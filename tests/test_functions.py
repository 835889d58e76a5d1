"""Unit tests for the corpus-curation operator library (functions/):
dedup ladder, similarity search, text analysis, multimodal plumbing.
Adversarial inputs: empty text, short docs, exact dups, poison payloads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_automation_system_spark.functions import dedup as D
from ocr_automation_system_spark.functions import similarity as S
from ocr_automation_system_spark.functions import text as T
from ocr_automation_system_spark.functions.multimodal import (
    extract_media_metadata, sample_frames, sniff_mime,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),   # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river bend today"),   # near dup of 0
        (3, "completely different content about spark shuffle partitions and joins"),
        (4, ""),                                                                        # empty
        (5, "xy"),                                                                      # < n tokens
        (6, "1234 5678 !!!"),                                                           # low quality
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


# -- dedup --------------------------------------------------------------------

def test_exact_duplicates_groups(docs):
    groups = {r["keep_doc_id"]: r for r in D.exact_duplicates(docs).collect()}
    assert groups[0]["n_docs"] == 2 and groups[0]["doc_ids"] == "0,1"
    assert sum(r["n_docs"] for r in groups.values()) == 7


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in D.dedup_exact(docs).collect())
    assert kept == [0, 2, 3, 4, 5, 6]


def test_lsh_finds_near_dup_pair(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs).collect()}
    assert pairs[(0, 1)] == 1.0            # exact dup -> jaccard 1
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5   # near dup survives banding
    assert (0, 3) not in pairs             # unrelated never a candidate


def test_ladder_build_is_few_py4j_calls(spark, sf_dir, py4j_calls):
    """The LSH + Jaccard ladder reaches the JVM as Spark SQL text: building
    it costs a few hundred py4j round trips, not the ~1,700 of the
    ``Column`` trees it replaced."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert 0 < py4j_calls(lambda: D.ngram_jaccard_pairs(docs)) < 500


def test_short_and_empty_docs_never_join(docs):
    bands = D.minhash_bands(docs)
    ids = {r["doc_id"] for r in bands.collect()}
    assert 4 not in ids and 5 not in ids


def test_connected_components_chain_and_singleton(spark):
    """Chain 1-2-3 collapses to cluster 1 even though (1,3) is not a
    direct pair; 7-8 is its own cluster; isolated nodes don't appear."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"])
    got = {r["node"]: r["cluster_id"]
           for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_connected_components_paths_agree(spark, jobs_of):
    """Union-find (collected) and min-label propagation (distributed)
    must return identical clusters on the same random graph. The driver
    path is one collect of the pairs: one Spark job on a one-partition
    pair set, with no count, fingerprint or edge-table job."""
    import random

    rng = random.Random(3)
    nodes = list(range(200))
    edges = {(min(a, b), max(a, b))
             for a, b in (rng.sample(nodes, 2) for _ in range(150))}
    pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"]).coalesce(1)
    built = []
    assert jobs_of(lambda: built.append(D.connected_components(pairs))) == 1
    # the labels are a local relation: reading them runs no Spark job
    rows = []
    assert jobs_of(lambda: rows.extend(built[0].collect())) == 0
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in built[0].schema.fields] == [
        ("node", "bigint", False), ("cluster_id", "bigint", False)]
    fast = {r["node"]: r["cluster_id"] for r in rows}
    slow = {r["node"]: r["cluster_id"]
            for r in D.connected_components(
                pairs, collect_threshold=0).collect()}
    assert fast == slow and fast


def test_connected_components_collects_all_partitions_in_one_job(
        spark, jobs_of):
    """The driver path's limit runs over every partition in one job. A
    plain ``limit().collect()`` scans partitions in growing waves (1, 4,
    ... per job) until the limit fills, so a pair set smaller than the
    limit cost one job per wave (4 jobs here instead of 2). String ids
    (urls) keep their type."""
    from pyspark.sql import functions as F

    edges = (spark.createDataFrame(
        [(f"u{i:03d}", f"u{i + 1:03d}") for i in range(0, 160, 2)],
        ["doc_a", "doc_b"]).repartition(8).persist())
    try:
        edges.count()
        pairs = (edges.join(F.broadcast(edges.select(F.col("doc_a").alias("x"))),
                            F.col("doc_a") == F.col("x"))
                 .drop("x"))
        built = []
        # one job builds the broadcast side, one runs the limit
        assert jobs_of(lambda: built.append(D.connected_components(pairs))) == 2
        got = {r["node"]: r["cluster_id"] for r in built[0].collect()}
        assert got == {f"u{n:03d}": f"u{n - n % 2:03d}" for n in range(160)}
        assert built[0].schema["node"].dataType.simpleString() == "string"
    finally:
        edges.unpersist()


def test_connected_components_long_chain_converges(spark):
    """Adversarial diameter: a 1024-node path graph. Plain min
    propagation needs 1023 rounds; pointer doubling must finish within
    the 50-round budget on the DISTRIBUTED path and agree with
    union-find."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1023)], ["doc_a", "doc_b"])
    dist = {r["node"]: r["cluster_id"] for r in
            D.connected_components(pairs, collect_threshold=0,
                                   max_iter=50).collect()}
    assert set(dist.values()) == {0} and len(dist) == 1024
    fast = {r["node"]: r["cluster_id"]
            for r in D.connected_components(pairs).collect()}
    assert fast == dist


def test_dedup_cluster_keep_end_to_end(docs):
    rows = {r["doc_id"]: r for r in D.dedup_cluster_keep(docs).collect()}
    assert len(rows) == 7                      # every doc labeled
    assert rows[1]["cluster_id"] == 0          # exact dup joins doc 0
    assert rows[0]["keep"] and not rows[1]["keep"]
    assert rows[3]["cluster_id"] == 3 and rows[3]["keep"]   # singleton
    assert rows[4]["keep"] and rows[5]["keep"]              # no shingles
    kept = {i for i, r in rows.items() if r["keep"]}
    clusters = {r["cluster_id"] for r in rows.values()}
    assert kept == clusters                    # one keeper per cluster


def test_simhash_near_pairs_and_hamming(docs):
    st = {r["doc_id"]: (r["sim_hi"], r["sim_lo"])
          for r in D.simhash_table(docs).collect()}
    assert st[0] == st[1]                  # identical text -> identical sig
    for hi, lo in st.values():             # halves stay in unsigned-32 range
        assert 0 <= hi < 2 ** 32 and 0 <= lo < 2 ** 32
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in D.simhash_near_pairs(docs, max_hamming=16).collect()}
    assert pairs[(0, 1)] == 0
    if (0, 2) in pairs:                    # one-word change stays close
        assert pairs[(0, 2)] <= 16


def test_simhash_pigeonhole_property(docs):
    """Hamming(a,b) <= 3 on the 64-bit signature => a and b share >= 1 of
    the 4 16-bit blocks (the blocking join can never miss a near pair)."""
    import random

    def blocks(hi, lo):
        return [(0, hi >> 16), (1, hi & 65535), (2, lo >> 16), (3, lo & 65535)]

    rng = random.Random(7)
    for _ in range(500):
        hi_a, lo_a = rng.getrandbits(32), rng.getrandbits(32)
        hi_b, lo_b = hi_a, lo_a
        for bit in rng.sample(range(64), rng.randrange(0, 4)):  # <= 3 flips
            if bit < 32:
                hi_b ^= 1 << bit
            else:
                lo_b ^= 1 << (bit - 32)
        ham = bin(hi_a ^ hi_b).count("1") + bin(lo_a ^ lo_b).count("1")
        assert ham <= 3
        shared = set(blocks(hi_a, lo_a)) & set(blocks(hi_b, lo_b))
        assert shared, "pigeonhole violated"


# -- similarity ---------------------------------------------------------------

@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, -0.1, 0.0, 0.0]),   # close to 0, same sign bucket
        (2, [-1.0, 0.0, 0.0, 0.0]),   # opposite
        (3, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (4, [0.0, 0.0, 0.0, 0.0]),    # zero vector
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    return df.withColumn("embedding", F.col("embedding").cast("array<float>"))


def test_zero_vector_scores_zero(vecs):
    """A zero vector's cosine denominator is 0: it scores 0.0, never NaN."""
    rows = {r["vec_id"]: r["cos_sim"] for r in vecs.select(
        "vec_id", S.cosine_vs_query(F.col("embedding"), [1.0, 0.0, 0.0, 0.0])
        .alias("cos_sim")).collect()}
    assert rows[4] == 0.0 and rows[2] == -1.0


def test_near_dup_pairs_cosine(vecs):
    pairs = {(r["vec_a"], r["vec_b"]): r["cos_sim"]
             for r in S.cosine_near_dup_pairs(vecs, threshold=0.9, n_bits=4).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.99


def test_short_query_vector_never_errors(vecs):
    """ADVICE fix: a (query) vector shorter than n_bits 0-pads — the
    missing dims read as 0-bits instead of raising an index error."""
    short = vecs.sparkSession.createDataFrame(
        [(9, [1.0, 1.0])], ["vec_id", "embedding"])
    got = {r["vec_id"]: r["b"] for r in short.select(
        "vec_id", S.sign_bucket(F.col("embedding"), 4).alias("b")).collect()}
    assert got == {9: 0b1100}


def test_random_planes_deterministic_and_consistent(vecs):
    planes = S.hyperplanes(6, 4, seed=3)
    assert planes == S.hyperplanes(6, 4, seed=3)
    assert planes != S.hyperplanes(6, 4, seed=4)
    b = vecs.select("vec_id",
                    S.plane_bucket(F.col("embedding"), planes).alias("bk"))
    got = {r["vec_id"]: r["bk"] for r in b.collect()}
    # identical-direction vectors 0 and 1 may differ only on planes where
    # their dot signs differ — but vec 0 vs itself is exactly stable
    assert got == {r["vec_id"]: r["bk"] for r in b.collect()}
    for v in got.values():
        assert 0 <= v < 2 ** 6


def test_plane_bucketed_near_dups_find_close_pair(vecs):
    planes = S.hyperplanes(4, 4, seed=1)
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             S.cosine_near_dup_pairs(vecs, threshold=0.9,
                                     planes=planes).collect()}
    assert (0, 1) in pairs  # cos=0.99 pair always shares all sign bits


def test_bucket_cap_drops_pathological_bucket(spark):
    """Skew-injected fixture: 30 identical vectors (one mega bucket) + 2
    near-dups elsewhere. max_bucket=10 must drop the mega bucket's pairs
    but keep the small bucket's pair — and lsh_bucket_stats shows the
    occupancy the cap keys off."""
    rows = [(i, [1.0, 1.0, 0.0, 0.0]) for i in range(30)]
    rows += [(100, [-1.0, -1.0, 0.0, 0.0]), (101, [-1.0, -0.9, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    stats = {r["bucket"]: r["n_vecs"]
             for r in S.lsh_bucket_stats(df, n_bits=4).collect()}
    assert max(stats.values()) == 30
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             S.cosine_near_dup_pairs(df, threshold=0.9, n_bits=4,
                                     max_bucket=10).collect()}
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs), "mega-bucket pairs not dropped"


def test_vectorized_paths_bit_identical_to_expressions(spark):
    """The Arrow/numpy fast paths (plane_bucket_vec, cosine_vs_query,
    cosine_pair) must produce BIT-identical doubles/longs to the Catalyst
    expression forms they replaced (cumsum == left-assoc fold), including
    short, zero and negative vectors."""
    import random

    rng = random.Random(13)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(40)]
    rows += [(100, [0.0] * 16), (101, [1.0, -2.0]), (102, [-1e-9] * 16)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    planes = S.hyperplanes(6, 16, seed=9)
    q = [rng.gauss(0, 1) for _ in range(16)]
    qcol = F.array(*[F.lit(float(x)) for x in q])
    got = df.select(
        "vec_id",
        S.plane_bucket(F.col("embedding"), planes).alias("b_expr"),
        S.plane_bucket_vec(F.col("embedding"), planes).alias("b_vec"),
        S.cosine(F.col("embedding"), qcol).alias("c_expr"),
        S.cosine_vs_query(F.col("embedding"), q).alias("c_vec"),
        S.cosine_pair(F.col("embedding"), F.col("embedding")).alias("c_self"),
    ).collect()
    import struct

    for r in got:
        assert r["b_expr"] == r["b_vec"], r["vec_id"]
        if r["vec_id"] == 101:
            # Documented divergence on RAGGED vectors only: zip_with
            # extends with nulls and the expression fold poisons to NULL,
            # while the UDF zero-pads missing dims — which matches the
            # DuckDB twin (list_sum skips NULL products). Data vectors
            # are fixed-width, so only the UDF/oracle-consistent side is
            # ever exercised by the contract queries.
            assert r["c_expr"] is None and r["c_vec"] is not None
            continue
        assert struct.pack("d", r["c_expr"]) == struct.pack("d", r["c_vec"]), \
            (r["vec_id"], r["c_expr"], r["c_vec"])
        if r["vec_id"] < 100:
            assert r["c_self"] == 1.0 or abs(r["c_self"] - 1.0) < 1e-12


def test_ivf_assign_and_topk(spark):
    """IVF: first-max-wins assignment, zero vector lands in cell 0, the
    query vector recalls itself at cos 1.0 through its own cell."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    rows.append((50, [0.0] * 8))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    cents = [rows[i][1] for i in range(4)]
    from pyspark.sql import functions as SF
    cells = {r["vec_id"]: r["cell"] for r in df.select(
        "vec_id", S.ivf_assign(SF.col("embedding"), cents).alias("cell")).collect()}
    assert set(cells.values()) <= set(range(4))
    assert cells[50] == 0                       # zero vector: all cos 0.0
    assert cells[0] == 0 and cells[1] == 1      # centroids self-assign
    got = S.ivf_topk(df, rows[0][1], cents, k=3, nprobe=1).collect()
    assert got[0]["vec_id"] == 0 and got[0]["cos_sim"] == 1.0
    sims = [r["cos_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)


def test_multitable_topk_recall(spark):
    """A vector missed by one table's bucket is still recalled when any of
    the 4 tables matches; exact brute-force order is preserved among the
    candidates."""
    import random

    rng = random.Random(11)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = [(0, base)]
    for i in range(1, 40):
        rows.append((i, [x + rng.gauss(0, 0.8) for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    got = S.lsh_topk_multitable(df, base, k=5, n_tables=4, n_bits=4,
                                dim=8).collect()
    assert got and got[0]["vec_id"] == 0 and got[0]["cos_sim"] == 1.0
    sims = [r["cos_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)


def test_dedup_ladder_coherence_on_testdata(spark):
    """Cross-tier invariants on real testdata: an exact-dup pair (same
    content hash, enough tokens) must surface as a Jaccard-1.0 LSH pair,
    a Hamming-0 SimHash pair, and land in one cluster with exactly one
    keeper."""
    from ocr_automation_system_spark.functions.text import (
        clean_text, content_hash, ws_tokens,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(200)
    # guarantee exact dups: re-crawl every doc under a shifted id
    docs = base.unionByName(
        base.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    hashed = docs.select(
        "doc_id", content_hash(F.col("text")).alias("h"),
        F.size(ws_tokens(clean_text(F.col("text")))).alias("n_toks"))
    groups: dict = {}
    for r in hashed.collect():
        if r["n_toks"] >= 3:
            groups.setdefault(r["h"], []).append(r["doc_id"])
    exact_pairs = {(min(a, b), max(a, b))
                   for ids in groups.values() if len(ids) > 1
                   for a in ids for b in ids if a < b}
    assert exact_pairs, "testdata should contain exact dups"

    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(docs).collect()}
    sim = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in D.simhash_near_pairs(docs).collect()}
    clusters = {r["doc_id"]: (r["cluster_id"], r["keep"])
                for r in D.dedup_cluster_keep(docs).collect()}
    for p in exact_pairs:
        assert jac.get(p) == 1.0, p
        assert sim.get(p) == 0, p
        ca, cb = clusters[p[0]][0], clusters[p[1]][0]
        assert ca == cb, p
    # one keeper per cluster, and it is the min doc_id
    by_cluster: dict = {}
    for doc, (cid, keep) in clusters.items():
        by_cluster.setdefault(cid, []).append((doc, keep))
    for cid, members in by_cluster.items():
        keepers = [d for d, k in members if k]
        assert keepers == [min(d for d, _ in members)] and cid == keepers[0]


# -- curation (split / quota / decontamination) -------------------------------

def test_train_val_split_deterministic_and_ratio(spark):
    from ocr_automation_system_spark.functions import curation as C

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id") \
        .withColumn("text", F.lit("x"))
    a = {r["doc_id"]: r["split"] for r in C.train_val_split(df).collect()}
    b = {r["doc_id"]: r["split"]
         for r in C.train_val_split(df.repartition(7)).collect()}
    assert a == b                                  # partitioning-invariant
    frac = sum(1 for v in a.values() if v == "val") / len(a)
    assert 0.06 < frac < 0.14                      # ~10% by hash


def test_domain_quota_keeps_best_per_domain(spark):
    from ocr_automation_system_spark.functions import curation as C

    good = ("the quick brown fox jumps over the lazy dog and runs to the "
            "river bank every day for a long time in the warm sun " * 3)
    rows = [(i, "d1", good) for i in range(5)]
    rows += [(10 + i, "d1", "1234 !!! 5678") for i in range(5)]
    rows += [(100, "d2", good)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    kept = {(r["doc_id"], r["source"]): r
            for r in C.domain_quota(df, quota=5).collect()}
    assert len([k for k in kept if k[1] == "d1"]) == 5
    assert all(doc_id < 10 for doc_id, src in kept if src == "d1")  # best 5
    assert (100, "d2") in kept
    assert kept[(0, "d1")]["rank_in_domain"] == 1  # tie -> lowest id first


def test_pack_bins_contiguous_and_partition_invariant(spark):
    """The packed stream is gapless (each doc starts where the previous
    ends), covers every token exactly once, and the assignment does not
    depend on input partitioning (distributed prefix sum correctness)."""
    from ocr_automation_system_spark.functions import curation as C

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id") \
        .withColumn("text", F.concat(F.lit("tok "),
                                     F.repeat(F.lit("word "),
                                              (F.col("doc_id") % 7 + 1)
                                              .cast("int"))))
    rows = sorted(C.pack_bins(df, budget=50).collect(),
                  key=lambda r: r["start_tok"])
    pos = 0
    for r in rows:
        assert r["start_tok"] == pos, (r, pos)
        assert r["bin_id"] == pos // 50 and r["offset_in_bin"] == pos % 50
        pos += r["n_tokens"]
    again = sorted(C.pack_bins(df.repartition(13), budget=50).collect(),
                   key=lambda r: r["start_tok"])
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_pack_bins_bucket_width_invariant(spark):
    """(doc_id, start_tok, bin_id) must not depend on bucket_hex: the
    bucket is a prefix of the md5 stream key, so (bucket, key) order is
    key order at ANY width — widening the bucket only changes the
    parallelism of the per-bucket sort, never the packed layout."""
    from ocr_automation_system_spark.functions import curation as C

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id") \
        .withColumn("text", F.repeat(F.lit("w "),
                                     (F.col("doc_id") % 11 + 1).cast("int")))
    baseline = sorted(
        (tuple(r) for r in C.pack_bins(df, budget=64, bucket_hex=1).collect()))
    for width in (2, 4):
        got = sorted((tuple(r) for r in
                      C.pack_bins(df, budget=64, bucket_hex=width).collect()))
        assert got == baseline, f"bucket_hex={width} changed the packing"


def test_benchmark_contamination_flags_overlap(spark):
    from ocr_automation_system_spark.functions import curation as C

    sent = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, sent + " iota kappa"),                 # benchmark (0 % 97 == 0)
        (1, "prefix words " + sent + " suffix"),   # shares 5-grams with 0
        (2, "totally unrelated content with many different words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in C.benchmark_contamination(df).collect()}
    assert 1 in got and got[1]["n_bench_docs"] == 1
    assert got[1]["n_shared_shingles"] >= 4        # sliding 5-grams of sent
    assert 2 not in got and 0 not in got           # clean + benchmark excluded


# -- text analysis ------------------------------------------------------------

def test_quality_and_tokens(docs):
    out = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("ws"),
        T.bpe_token_count(F.col("text")).alias("bpe"),
        F.round(T.quality_score(F.col("text")), 2).alias("q"),
        T.lang_id(F.col("text")).alias("lang"),
    ).collect()}
    assert out[4]["ws"] == 0 and out[4]["bpe"] == 0
    assert out[0]["ws"] == 14
    assert out[0]["lang"] == "en" and out[4]["lang"] == "und"
    assert out[0]["q"] > out[6]["q"]


def test_fingerprint_stability(docs):
    fp = docs.select("doc_id", T.content_hash(F.col("text")).alias("h"),
                     T.winnow_fingerprint("text").alias("w")).collect()
    by_id = {r["doc_id"]: r for r in fp}
    assert by_id[0]["h"] == by_id[1]["h"]
    assert by_id[0]["w"] == by_id[1]["w"]
    assert by_id[0]["h"] != by_id[3]["h"]
    assert by_id[4]["w"] is None          # no shingles -> no winnow print


# -- multimodal ---------------------------------------------------------------

def test_safe_resize_dims_reference_arithmetic():
    from ocr_automation_system_spark.functions.multimodal import (
        safe_resize_dims,
    )

    # `core/ocr_engine.py:13-23`: scale = min(max/h, max/w, 1.0), int()
    # truncation, downscale only.
    assert safe_resize_dims(5000, 3000, 2500) == (2500, 1500)
    assert safe_resize_dims(3000, 5000, 2500) == (1500, 2500)
    assert safe_resize_dims(100, 50, 2500) == (100, 50)      # never upscale
    assert safe_resize_dims(2500, 2500, 2500) == (2500, 2500)
    assert safe_resize_dims(333, 777, 128) == (54, 128)      # int() truncation


def test_resize_media_plumbing_and_poison(spark):
    from ocr_automation_system_spark.functions.multimodal import resize_media

    rows = [("big", b"\x89PNG\r\n\x1a\n" + b"p" * 4000),
            ("tiny", b"\x89PNG")]                 # truncated -> poison row
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {r["media_id"]: r for r in resize_media(df, max_side=64).collect()}
    ok = got["big"]
    assert ok["status"] == "ok"
    assert max(ok["new_width"], ok["new_height"]) <= 64
    assert ok["new_width"] <= ok["orig_width"]
    ratio = (ok["new_width"] * ok["new_height"]) / \
        (ok["orig_width"] * ok["orig_height"])
    assert len(ok["resized_bytes"]) == max(1, int(4008 * ratio))
    assert got["tiny"]["status"].startswith("error:")
    assert got["tiny"]["resized_bytes"] is None

def test_sniff_and_metadata(spark):
    rows = [
        ("png", b"\x89PNG\r\n\x1a\n" + b"x" * 64),
        ("jpg", b"\xff\xd8\xff\xe0" + b"y" * 64),
        ("pdf", b"%PDF-1.4 " + b"z" * 64),
        ("trunc", b"\x89PNG"),           # poison: too short to decode
        ("none", b""),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    meta = {r["media_id"]: r for r in extract_media_metadata(df).collect()}
    assert meta["png"]["mime"] == "image/png" and meta["png"]["status"] == "ok"
    assert meta["jpg"]["mime"] == "image/jpeg"
    assert meta["pdf"]["mime"] == "application/pdf"
    assert meta["trunc"]["status"].startswith("error:")   # row-level, no task failure
    assert meta["none"]["n_bytes"] == 0
    assert len(meta["png"]["feature"]) == 8


def test_frame_sampling_fanout(spark):
    df = spark.createDataFrame([("v", b"f" * 10000)], ["url", "html"])
    frames = sample_frames(df, every_n_bytes=4096, max_frames=8).collect()
    assert [f["frame_index"] for f in frames] == [0, 1, 2]
    assert sum(len(f["frame_bytes"]) for f in frames) == 10000


def test_sniff_mime_table():
    assert sniff_mime(b"RIFF1234WAVEfmt") == "audio/wav"
    assert sniff_mime(b"RIFF1234AVI ") == "application/octet-stream"
    assert sniff_mime(b"") == "application/octet-stream"


def test_cosine_near_dup_cap_bounds_pathological_bucket(spark):
    """Skew-injected ANN fixture: one LSH bucket holds a pathological
    near-identical pile (B^2 candidate blowup at corpus scale). The
    max_bucket occupancy cap must drop that bucket BEFORE the self-join
    while leaving healthy buckets' pairs intact — this test goes red if
    the cap filter is removed."""
    from ocr_automation_system_spark.functions import similarity as S

    dim = 8
    hot = [(i, [1.0 + 0.001 * i] * dim) for i in range(40)]  # one bucket
    cold = [(100, [-1.0] * 4 + [1.0] * 4), (101, [-1.0] * 4 + [1.0] * 4),
            (102, [-1.0] * 2 + [1.0] * 6), (103, [-1.0] * 2 + [1.0] * 6)]
    emb = spark.createDataFrame(hot + cold, ["vec_id", "embedding"])

    uncapped = S.cosine_near_dup_pairs(emb, threshold=0.9, n_bits=4,
                                       max_bucket=None).collect()
    capped = S.cosine_near_dup_pairs(emb, threshold=0.9, n_bits=4,
                                     max_bucket=10).collect()
    hot_ids = {i for i, _ in hot}
    assert sum(1 for r in uncapped
               if r["vec_a"] in hot_ids and r["vec_b"] in hot_ids) == 780
    # cap dropped the 40-vector bucket entirely...
    assert all(r["vec_a"] not in hot_ids for r in capped), \
        "occupancy cap did not suppress the pathological bucket"
    # ...and kept every healthy-bucket pair
    cold_pairs = {(r["vec_a"], r["vec_b"]) for r in capped}
    assert (100, 101) in cold_pairs and (102, 103) in cold_pairs


def test_simhash_near_pairs_cap_bounds_hot_block(spark):
    """Same property for the SimHash block join: a pile of near-identical
    texts floods one 16-bit block bucket; the occupancy cap must shrink
    the candidate set (red if the cap filter is deleted) without
    inventing pairs."""
    from ocr_automation_system_spark.functions import dedup as D
    from ocr_automation_system_spark.functions.dedup import (
        simhash_blocks, simhash_table,
    )

    # 60 shared tokens + a one-token tail: ~13 distinct signatures within
    # hamming 1-3 of each other, all sharing (and so flooding) the same
    # 16-bit blocks
    base = " ".join(f"word{j}" for j in range(60))
    rows = [(i, base + f" tail{i}") for i in range(20)]
    rows += [(200, "a completely different short document"),
             (201, "another unrelated piece of text entirely")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    sigs = simhash_table(df).select("sim_hi", "sim_lo").distinct()
    occ = (simhash_blocks(sigs).groupBy("block", "block_val").count()
           .agg(F.max("count")).collect()[0][0])
    assert occ > 4, f"fixture not skewed enough (max occupancy {occ})"

    unc = {(r["doc_a"], r["doc_b"])
           for r in D.simhash_near_pairs(df, max_hamming=3,
                                         max_bucket=None).collect()}
    cap = {(r["doc_a"], r["doc_b"])
           for r in D.simhash_near_pairs(df, max_hamming=3,
                                         max_bucket=4).collect()}
    assert cap <= unc
    assert len(cap) < len(unc), \
        "occupancy cap had no effect on the flooded block"


# -- curation: pii / repetition / blocklist -----------------------------------

def test_pii_scrub_counts_and_redactions(spark):
    from ocr_automation_system_spark.functions import curation as C

    rows = [
        (0, "mail a.b-c_d%x+1@sub.example.co.uk and b@x.io now"),
        (1, "server at 192.168.0.1 and 10.0.255.7, call 9876543210"),
        (2, "no pii here at all"),
        (3, ""),
        (4, "edge: 1234567890123 is 13 digits, 123456789 is 9 — no phone"),
        (5, "v1.2.3.4 has no \\b before the 1 — but 5.6.7.8 is bare"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in C.pii_scrub(df).collect()}
    assert (out[0]["n_emails"], out[0]["n_ips"], out[0]["n_phones"]) == (2, 0, 0)
    assert "<EMAIL>" in out[0]["scrubbed"] and "@" not in out[0]["scrubbed"]
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (0, 2, 1)
    assert out[1]["scrubbed"] == "server at <IP> and <IP>, call <PHONE>"
    assert out[2]["scrubbed"] == "no pii here at all"
    assert out[3]["scrubbed"] == ""
    assert out[4]["n_phones"] == 0          # \b\d{10}\b is exact-width
    # version strings stay intact (v1 has no word boundary); bare IPs go
    assert out[5]["n_ips"] == 1
    assert out[5]["scrubbed"].startswith("v1.2.3.4 ")
    assert "5.6.7.8" not in out[5]["scrubbed"]


def test_repetition_scores_flags_template_spam(spark):
    from ocr_automation_system_spark.functions import curation as C

    spam = " ".join(["buy cheap pills"] * 30)
    boiler = "\n".join(["home | about | contact"] * 8 + ["real content line"])
    rows = [
        (0, "a perfectly normal sentence with distinct words throughout"),
        (1, spam),
        (2, boiler),
        (3, ""),
        (4, "one"),  # single token -> no 2-grams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in C.repetition_scores(df).collect()}
    assert out[0]["gram_rep"] < 0.1 and out[0]["keep"]
    assert out[1]["gram_rep"] > 0.9 and not out[1]["keep"]
    assert out[2]["dup_line_frac"] > 0.7 and not out[2]["keep"]
    assert out[3]["gram_rep"] == 0.0 and out[3]["dup_line_frac"] == 0.0
    assert out[4]["gram_rep"] == 0.0 and out[4]["keep"]


def test_blocklist_filter_broadcast_anti_join(spark):
    from ocr_automation_system_spark.functions import curation as C

    docs = spark.createDataFrame(
        [(i, f"host{i % 4}", "txt") for i in range(20)],
        ["doc_id", "source", "text"])
    bad = spark.createDataFrame([("host1",), ("host3",)], ["source"])
    kept = C.blocklist_filter(docs, bad).collect()
    assert len(kept) == 10
    assert {r["source"] for r in kept} == {"host0", "host2"}
    plan = C.blocklist_filter(docs, bad)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_gram_lambdas_stay_bound_and_guarded(spark):
    """Canary for the two HOF codegen cliffs (docs/PLANS.md): the
    shingle/gram builders must keep (a) the emptiness guard on the
    position SEQUENCE, never around the transform, and (b) the token
    array LET-BOUND via bind_array's one-element outer transform — a
    lambda closing over the raw tokenizer expression re-evaluates it
    per gram (measured 14x)."""
    from ocr_automation_system_spark.functions.text import shingles

    expr = (spark.createDataFrame([("a b c",)], "text string")
            .select(shingles("text"))._jdf.queryExecution().analyzed()
            .toString().lower())
    # bind_array shape: transform(array(<tokenizer>), ...)
    assert "transform(array(" in expr
    # lazy_seq shape: a guarded sequence feeds the gram transform ...
    assert "sequence(1" in expr
    # ... and no CASE WHEN has a transform as its THEN branch
    assert "then transform(" not in expr


def test_shingle_sql_matches_duckdb_twin(spark):
    """The Spark SQL shingle text and its DuckDB twin
    (``queries._sql_shingles``) give the same shingle set on the
    tokenizer's edge cases."""
    import duckdb

    from ocr_automation_system_spark.queries import (
        _sql_clean, _sql_shingles, _sql_toks,
    )

    texts = ["", "   \t  ", "a\x01b\x1f c\x0bd e\x00f", "one\ttwo\t\tthree four",
             "one two", "one two three", "a b a b a b a b",
             "The QUICK Brown fox THE quick", "naïve Café ÜBER straße çà ñ",
             "  lead and trail  ", "x\ny\r\nz w"]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "id int, text string")
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (id INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        for n in (1, 3):
            got = {r["id"]: sorted(r["sh"]) for r in
                   df.select("id", T.shingles("text", n).alias("sh")).collect()}
            sql = _sql_shingles(_sql_toks(_sql_clean("text")), n)
            want = {i: sorted(sh) for i, sh in
                    con.execute(f"SELECT id, {sql} FROM t").fetchall()}
            assert got == want, n
    finally:
        con.close()


def test_incremental_dedup_matches_direct_and_handles_empty_index(
        spark, tmp_path):
    """The stored-index path must produce the same verdicts as a direct
    cross-half LSH+Jaccard computation, and an EMPTY corpus index must
    mean 'everything novel', not a crash."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions import dedup as D

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, base, "s"), (2, "unrelated corpus text about rivers", "s"),
            (1, base + " today", "s"),  # near-dup of corpus doc 0
            (3, "novel snapshot document about mountains", "s"),
            (5, "", "s")]  # shingle-less: never a candidate
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    corpus = df.filter(F.col("doc_id") % 2 == 0)
    new = df.filter(F.col("doc_id") % 2 == 1)

    idx = str(tmp_path / "idx")
    D.write_dedup_index(corpus, idx)
    got = {r["doc_id"]: (r["n_corpus_dups"], r["dup_of"], r["keep"])
           for r in D.incremental_dedup(new, spark, idx,
                                        threshold=0.5).collect()}
    assert got[1] == (1, 0, False)   # caught against the stored corpus
    assert got[3] == (0, -1, True)
    assert got[5] == (0, -1, True)

    # empty corpus -> empty (unreadable) partitioned index -> all kept
    idx2 = str(tmp_path / "idx2")
    D.write_dedup_index(corpus.limit(0), idx2)
    got2 = {r["doc_id"]: r["keep"]
            for r in D.incremental_dedup(new, spark, idx2).collect()}
    assert got2 == {1: True, 3: True, 5: True}


def test_minhash_bands_stateless_parity(spark):
    """The streaming (row-local, aggregation-free) band computation must
    emit exactly the rows of the batch aggregate form."""
    from ocr_automation_system_spark.functions.dedup import (
        minhash_bands, minhash_bands_stateless,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, minhash_bands(docs).collect()))
    b = sorted(map(tuple, minhash_bands_stateless(docs).collect()))
    assert a == b and a


def test_occupancy_caps_never_window_on_the_capped_key(spark, vecs):
    """The occupancy caps must be aggregate + broadcast anti-join, never a
    Window count: Window.partitionBy(bucket) buffers the whole bucket in
    ONE task's window buffer — materializing exactly the pathological
    bucket the cap exists to drop. Plan contract: no Window node anywhere
    in the capped candidate generation; the over-cap key removal is a
    BroadcastHashJoin LeftAnti."""
    from ocr_automation_system_spark.functions import dedup as D

    capped = S.cosine_near_dup_pairs(vecs, threshold=0.9, n_bits=4,
                                     max_bucket=10)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan

    docs = spark.createDataFrame(
        [(i, f"some shared tokens here tail{i}") for i in range(6)],
        ["doc_id", "text"])
    plan2 = (D.simhash_near_pairs(docs, max_hamming=3, max_bucket=10)
             ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan2
    assert "LeftAnti" in plan2 and "BroadcastHashJoin" in plan2


def test_containment_detects_quote_inside_long_doc(spark):
    """A short passage quoted verbatim inside a much longer document:
    Jaccard is tiny (the resemblance ladder misses it by design), but
    containment of the short doc is ~1."""
    quote = " ".join(f"q{i}" for i in range(12))
    book = " ".join(f"b{i}" for i in range(200)) + " " + quote \
        + " " + " ".join(f"c{i}" for i in range(200))
    rows = [(1, quote), (2, book),
            (3, " ".join(f"z{i}" for i in range(30)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r
           for r in D.containment_pairs(df, threshold=0.5).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    # all 10 of the quote's 3-shingles appear in the book
    assert r["size_a"] == 10 and r["common"] == 10
    assert r["containment_a_in_b"] == 1.0
    assert r["containment_b_in_a"] < 0.05
    # the symmetric ladder scores this pair near zero
    jac = {(p["doc_a"], p["doc_b"]): p["jaccard"]
           for p in D.ngram_jaccard_pairs(df).collect()}
    assert jac.get((1, 2), 0.0) < 0.05


def test_containment_cap_censors_boilerplate_vocabulary(spark):
    """A nav-chrome shingle shared by 70 docs is over the cap: it joins
    nothing and is excluded from the size denominators, so pure-chrome
    docs appear in no pair while a genuine quote still scores 1."""
    chrome = " ".join(f"nav{i}" for i in range(10))
    quote = " ".join(f"q{i}" for i in range(10))
    rows = [(i, chrome) for i in range(70)]
    rows += [(100, quote), (101, quote + " unique tail here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r
           for r in D.containment_pairs(df, threshold=0.9,
                                        max_docs_per_shingle=64).collect()}
    assert set(got) == {(100, 101)}
    assert got[(100, 101)]["containment_a_in_b"] == 1.0


def test_cluster_keep_best_picks_quality_winner(spark):
    """Near-dup cluster {1,2,3}: doc 2 has the highest quality so it is
    kept; cluster_id stays the min-id label; singleton keeps itself;
    quality ties fall back to the smallest id."""
    base = " ".join(f"t{i}" for i in range(40))
    rows = [(1, base, 10), (2, base + " extra", 99), (3, base, 10),
            (9, " ".join(f"u{i}" for i in range(30)), 1)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    got = {r["doc_id"]: r for r in D.cluster_keep_best(
        df, quality_col="q", jaccard_threshold=0.6).collect()}
    assert {i: got[i]["cluster_id"] for i in got} == {1: 1, 2: 1, 3: 1, 9: 9}
    assert [i for i in got if got[i]["keep"]] == sorted(
        [i for i in got if got[i]["keep"]]) == [2, 9]
    # tie on quality -> min id wins
    tie = spark.createDataFrame(
        [(5, base, 7), (6, base, 7)], "doc_id long, text string, q long")
    tg = {r["doc_id"]: r["keep"]
          for r in D.cluster_keep_best(tie, quality_col="q").collect()}
    assert tg == {5: True, 6: False}


def test_batch_topk_corpus_never_shuffles_for_candidates(spark, sf_dir):
    """Batched ANN (X61): candidate generation must be a broadcast join
    of the exploded query probes onto the corpus bucket projection —
    the only exchange in the plan is the per-query rank window over
    the (tiny) candidate set."""
    from ocr_automation_system_spark.queries import q_embedding_batch_topk

    df = q_embedding_batch_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # rank window only
    assert "WindowGroupLimit" in plan  # top-3 pruned map-side
    # per-query semantics: every returned rank run starts at 1
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    for q_id, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q_id


def test_bitext_candidates_shape(spark, sf_dir):
    """X64: one row per non-English source doc that found an English
    bucket-mate; the match is always English-side and top-1 is the
    rounded-cosine/min-id winner."""
    from ocr_automation_system_spark.queries import (
        load_table,
        q_bitext_candidates_demo8,
    )

    out = q_bitext_candidates_demo8(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert out["src_id"].is_unique
    assert (out["src_lang"] != "en").all()
    en_ids = set(
        load_table(spark, sf_dir, "documents")
        .filter("lang = 'en'").select("doc_id").toPandas()["doc_id"])
    assert set(out["en_id"]) <= en_ids


def test_host_disjoint_split_leakage_safe(spark, sf_dir):
    """X68: the property the per-doc split can't give — every host maps
    to exactly one split, and the split is the host-hash function."""
    from ocr_automation_system_spark.queries import q_host_disjoint_split

    out = q_host_disjoint_split(spark, sf_dir)
    per_host = (out.groupBy("source")
                .agg(F.count_distinct("split").alias("n_splits"))
                .filter("n_splits > 1"))
    assert per_host.count() == 0
    assert set(r["split"] for r in out.select("split").distinct().collect()) \
        <= {"train", "val", "test"}


def test_packing_efficiency_bounds(spark, sf_dir):
    """X67: bins_used >= the ceil lower bound; fill ratio in (0, 1];
    straddle count below doc count."""
    from ocr_automation_system_spark.queries import (
        q_pack_bins,
        q_packing_efficiency,
    )

    row = q_packing_efficiency(spark, sf_dir).collect()[0]
    assert row["bins_used"] >= row["bins_lower_bound"] >= 1
    assert 0.0 < row["fill_ratio"] <= 1.0
    assert 0 <= row["n_straddling_docs"] <= q_pack_bins(spark, sf_dir).count()


def test_knn_label_eval_consistency(spark, sf_dir):
    """X69: per-label counts are sane and the evaluated population is
    exactly the vectors with at least one bucket-mate."""
    from ocr_automation_system_spark.queries import (
        load_table,
        q_knn_label_eval,
    )

    out = q_knn_label_eval(spark, sf_dir).toPandas()
    assert (out["n_correct"] <= out["n_eval"]).all()
    emb = load_table(spark, sf_dir, "embeddings")
    b = S.sign_bucket(F.col("embedding"), 8).alias("b")
    mates = (emb.select("vec_id", b)
             .groupBy("b").agg(F.count(F.lit(1)).alias("n"))
             .filter("n > 1")
             .agg(F.sum("n")).collect()[0][0]) or 0
    assert int(out["n_eval"].sum()) == int(mates)


def test_event_transitions_is_a_probability_table(spark, sf_dir):
    """X70: per current type the p_next column sums to ~1 (rounding
    slack) and the transition total is exactly n_events - n_users
    (every user contributes n_i - 1 consecutive pairs)."""
    from ocr_automation_system_spark.queries import (
        load_table,
        q_event_transitions,
    )

    out = q_event_transitions(spark, sf_dir).toPandas()
    sums = out.groupby("event_type")["p_next"].sum()
    assert ((sums - 1.0).abs() < 1e-4).all()
    ev = load_table(spark, sf_dir, "events")
    expect = ev.count() - ev.select("user_id").distinct().count()
    assert int(out["n_transitions"].sum()) == expect


def test_gram_novelty_attribution(spark, sf_dir):
    """X71: every distinct gram is owned exactly once; the smallest
    doc_id with any grams owns all of its own (novelty 1.0)."""
    from ocr_automation_system_spark.queries import (
        load_table,
        q_gram_novelty,
    )

    out = q_gram_novelty(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents")
    n_distinct = (docs.select(F.explode(
        T.shingle_hashes("text", 5)).alias("h"))
        .select("h").distinct().count())
    assert int(out["n_novel"].sum()) == n_distinct
    assert ((0.0 <= out["novelty"]) & (out["novelty"] <= 1.0)).all()
    first = out[out["n_grams"] > 0].sort_values("doc_id").iloc[0]
    assert first["novelty"] == 1.0 and first["n_novel"] == first["n_grams"]


def test_triangle_stats_hand_computed(spark):
    """X72 on a known graph: triangle {a,b,c} + pendant d off c, with
    duplicate and reversed edges (direction/multiplicity collapse)."""
    from ocr_automation_system_spark.functions.links import triangle_stats

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("c", "d"),
         ("a", "b"), ("d", "d")],  # dup + reverse + self-loop
        ["src", "dst"])
    got = {r["host"]: r for r in triangle_stats(edges).collect()}
    assert got["a"]["n_triangles"] == 1 and got["a"]["clustering"] == 1.0
    assert got["b"]["n_triangles"] == 1 and got["b"]["clustering"] == 1.0
    assert got["c"]["n_triangles"] == 1 and got["c"]["degree"] == 3
    assert got["c"]["clustering"] == pytest.approx(1 / 3, abs=1e-6)
    assert got["d"]["n_triangles"] == 0 and got["d"]["clustering"] == 0.0


def test_cocitation_pairs_and_fanin_cap(spark):
    """X73 hand-computed Jaccards; the over-fan-in destination is
    dropped by the cap and the ratios stay self-consistent."""
    from ocr_automation_system_spark.functions.links import cocitation_pairs

    edges = spark.createDataFrame(
        [("s1", "x"), ("s1", "y"), ("s2", "x"), ("s2", "y"), ("s3", "x")],
        ["src", "dst"])
    got = {(r["host_a"], r["host_b"]): r
           for r in cocitation_pairs(edges, max_fanin=None).collect()}
    assert got[("s1", "s2")]["common_dsts"] == 2
    assert got[("s1", "s2")]["jaccard"] == 1.0
    assert got[("s1", "s3")]["jaccard"] == 0.5
    assert got[("s2", "s3")]["jaccard"] == 0.5
    # cap: x has fan-in 3 > 2 -> only y survives; s3 has no edges left
    capped = {(r["host_a"], r["host_b"]): r
              for r in cocitation_pairs(edges, max_fanin=2).collect()}
    assert set(capped) == {("s1", "s2")}
    assert capped[("s1", "s2")]["common_dsts"] == 1
    assert capped[("s1", "s2")]["out_a"] == 1
    assert capped[("s1", "s2")]["jaccard"] == 1.0


def test_minhash_and_bloom_merges_are_idempotent(spark, sf_dir):
    """X74: MIN and set-union are idempotent merge algebras — folding
    the same day twice must not change the artifact (the property the
    CMS SUM deliberately lacks), and the half-merge equals the
    full-corpus build exactly."""
    from ocr_automation_system_spark.functions import sketch as SK
    from ocr_automation_system_spark.queries import load_table

    docs = load_table(spark, sf_dir, "documents")
    full_sig = SK.minhash_sig_table(docs)
    twice = SK.merge_minhash_sigs(full_sig, full_sig)
    assert twice.exceptAll(full_sig).count() == 0
    assert full_sig.exceptAll(twice).count() == 0

    a = SK.bloom_bit_table(docs.filter(F.col("doc_id") % 2 == 0))
    b = SK.bloom_bit_table(docs.filter(F.col("doc_id") % 2 == 1))
    merged = SK.merge_bloom_bits(a, b)
    full_bits = SK.bloom_bit_table(docs)
    assert merged.exceptAll(full_bits).count() == 0
    assert full_bits.exceptAll(merged).count() == 0
    re_merged = SK.merge_bloom_bits(merged, a)
    assert re_merged.count() == merged.count()


def test_pca_power_is_the_dominant_eigenvector(spark):
    """X75 convergence: on a corpus with a PLANTED dominant direction
    (eigengap large enough that (lambda2/lambda1)^6 is tiny) the
    loadings align with numpy's dominant covariance eigenvector
    (|cos| ~ 1). The synthetic sf embeddings are near-isotropic
    (lambda2/lambda1 ~ 0.99) where NO fixed iteration count converges
    — that's a property of the data, so alignment is pinned on a
    conditioned fixture and determinism on the real table (next test)."""
    import numpy as np

    from ocr_automation_system_spark.functions.clustering import (
        pca_power_loadings,
    )

    rng = np.random.RandomState(7)
    direction = rng.randn(16)
    direction /= np.linalg.norm(direction)
    x = rng.randn(300, 16) * 0.05 + np.outer(rng.randn(300), direction)
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    df = spark.createDataFrame(rows, "id int, embedding array<float>")
    v = pca_power_loadings(df, iters=6)
    assert len(v) == 16
    xf = np.array(
        df.select("embedding").toPandas()["embedding"].tolist(),
        dtype=np.float64)
    xq = np.floor(xf * 1_000_000)
    cov = len(xq) * (xq.T @ xq) - np.outer(xq.sum(0), xq.sum(0))
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    cos = abs(np.dot(v, top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 0.999


def test_pca_power_is_partition_invariant(spark, sf_dir):
    """X75 determinism: exact-integer covariance + pinned driver fold
    means the loadings are bit-identical under repartitioning; empty
    table yields []."""
    from ocr_automation_system_spark.functions.clustering import (
        pca_power_loadings,
    )
    from ocr_automation_system_spark.queries import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = pca_power_loadings(emb, iters=6)
    assert len(v) == 64
    v2 = pca_power_loadings(emb.repartition(7), iters=6)
    assert v == v2
    assert pca_power_loadings(emb.limit(0)) == []


def test_script_census_planted_scripts(spark):
    """X78: non-Latin ranges verified on PLANTED text (the sf corpus is
    ASCII-heavy, so the contract twin alone can't prove the \\x{...}
    classes work) — hand-computed counts, priority tie-break, and
    Spark/DuckDB agreement on the same rows."""
    import duckdb

    from ocr_automation_system_spark.functions.text import (
        SCRIPT_RANGES,
        dominant_script,
        script_counts,
    )
    from ocr_automation_system_spark.queries import _sql_script_census

    rows = [
        (1, "hello мир"),              # 5 latin, 3 cyrillic
        (2, "русский текст"),          # cyrillic only
        (3, "日本語 text かな"),         # 3 cjk ideographs + 2 kana, 4 latin
        (4, "مرحبا"),                  # arabic
        (5, "नमस्ते"),                  # devanagari
        (6, "한국어"),                  # hangul
        (7, "αβγ abc"),                # tie 3-3 -> latin (priority order)
        (8, ""),                       # none
        (9, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    counts = script_counts(F.col("text"))
    got = {r["doc_id"]: r for r in docs.select(
        "doc_id", *[counts[n].alias(n) for n, _ in SCRIPT_RANGES],
        dominant_script(counts).alias("script")).collect()}
    assert (got[1]["latin"], got[1]["cyrillic"]) == (5, 3)
    assert got[1]["script"] == "latin"
    assert got[2]["script"] == "cyrillic" and got[2]["latin"] == 0
    assert got[3]["cjk"] == 5 and got[3]["script"] == "cjk"
    assert got[4]["script"] == "arabic"
    assert got[5]["script"] == "devanagari"
    assert got[6]["script"] == "hangul" and got[6]["hangul"] == 3
    assert (got[7]["greek"], got[7]["latin"]) == (3, 3)
    assert got[7]["script"] == "latin"     # priority order breaks the tie
    assert got[8]["script"] == "none" and got[9]["script"] == "none"

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    duck = {r[0]: r for r in
            con.execute(_sql_script_census()).fetchall()}
    names = [n for n, _ in SCRIPT_RANGES]
    for did in got:
        assert tuple(got[did][n] for n in names) == duck[did][1:8], did
        assert got[did]["script"] == duck[did][8], did


def test_host_quality_shrunk_orders_small_hosts_fairly(spark, sf_dir):
    """X86: a tiny lucky host's shrunk score moves toward the global
    mean while a large host's barely moves — and the shrunken ranking
    flips the raw one on the planted fixture."""
    from ocr_automation_system_spark.queries import q_host_quality_shrunk

    good = ("word " * 60).strip() + " the and of to is."  # quality 1.0
    rows = ([(i, good, "en", "big", 300) for i in range(50)]
            + [(100, "x", "en", "big", 1), (101, "x", "en", "big", 1)]
            + [(200, good, "en", "tiny", 300), (201, good, "en", "tiny",
                                                300)]
            + [(300 + i, "x", "en", "junk", 1) for i in range(40)])
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    import os
    import tempfile

    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d,
                                                      "documents.parquet"))
    got = {r["source"]: r for r in
           q_host_quality_shrunk(spark, d).collect()}
    big, tiny = got["big"], got["tiny"]
    assert tiny["mean_q"] > big["mean_q"]          # raw: tiny wins
    assert tiny["shrunk_q"] < big["shrunk_q"]      # shrunk: big wins
    junk = got["junk"]
    tot = big["n_docs"] + tiny["n_docs"] + junk["n_docs"]
    gmean = (big["mean_q"] * big["n_docs"] + tiny["mean_q"]
             * tiny["n_docs"] + junk["mean_q"] * junk["n_docs"]) / tot
    assert abs(tiny["shrunk_q"]
               - (2 * tiny["mean_q"] + 20 * gmean) / 22) < 1e-12


def test_compression_ratio_separates_spam_from_noise(spark):
    """X87: repeated-template text flags LOW (compresses away), md5-hex
    noise flags HIGH-ish or passes, natural-ish prose passes; empty
    text is unflagged with ratio 0."""
    import hashlib

    from ocr_automation_system_spark.functions.curation import (
        compression_ratios,
    )

    noise = " ".join(hashlib.md5(str(i).encode()).hexdigest()
                     for i in range(60))
    prose = ("the quick brown fox jumps over the lazy dog and then "
             "discusses spark physical plans at length. " * 6)
    rows = [("spam", "buy now! " * 300),
            ("noise", noise),
            ("prose", prose),
            ("empty", None)]
    got = {r["url"]: r for r in compression_ratios(
        spark.createDataFrame(rows, "url string, text string")).collect()}
    assert got["spam"]["flagged"] and got["spam"]["ratio"] < 0.10
    assert got["prose"]["ratio"] > 0.10 and not got["prose"]["flagged"]
    assert got["noise"]["ratio"] > got["prose"]["ratio"]
    assert (got["empty"]["raw_len"], got["empty"]["ratio"],
            got["empty"]["flagged"]) == (0, 0.0, False)


def test_host_dup_rate_flags_mirror_host(spark, tmp_path):
    """X89: a host that repeats one page scores high dup_frac; a host
    of distinct pages scores 0."""
    import os

    from ocr_automation_system_spark.queries import q_host_dup_rate

    page = ("mirror mirror content " * 30).strip()
    rows = ([(i, page + f" tail{i % 2}", "en", "mirror.com", 100)
             for i in range(8)]
            + [(100 + i, f"unique page number {i} with words "
                         f"{'alpha beta ' * (i + 3)}", "en",
                "clean.com", 100) for i in range(4)])
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet"))
    got = {r["source"]: r for r in q_host_dup_rate(spark, d).collect()}
    m, c = got["mirror.com"], got["clean.com"]
    assert m["n_docs"] == 8 and m["n_clusters"] < 8
    assert m["dup_frac"] == (8 - m["n_clusters"]) / 8 > 0.5
    assert c["dup_frac"] == 0.0 and c["n_clusters"] == 4


def test_lsh_tuning_table_monotone_cost(spark, sf_dir):
    """X94: r=1 banding must generate at least as many collision pairs
    as r=2, which >= r=4 (the S-curve's cost side), and the exact
    r=2 collision count equals the brute recount from the band table."""
    from ocr_automation_system_spark.functions.dedup import (
        lsh_tuning_table,
        minhash_bands,
    )
    from ocr_automation_system_spark.queries import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {r["rows_per_band"]: r
           for r in lsh_tuning_table(docs).collect()}
    assert set(got) == {1, 2, 4}
    assert got[1]["collision_pairs"] >= got[2]["collision_pairs"] \
        >= got[4]["collision_pairs"]
    bt = minhash_bands(docs, bands=4, rows_per_band=2)
    brute = sum(k * (k - 1) // 2 for (_, _), k in
                ((key, n) for key, n in (
                    ((r["band"], r["sig"]), r["n"]) for r in
                    bt.groupBy("band", "sig").count()
                    .withColumnRenamed("count", "n").collect())))
    assert got[2]["collision_pairs"] == brute


def test_lang_id_margin_confidence(spark):
    """X101: unambiguous English gets a wide margin; mixed en/es text
    is low-margin and unconfident; empty text has all-zero scores."""
    from ocr_automation_system_spark.queries import q_lang_id_margin

    import os
    import tempfile

    rows = [
        (1, "the cat and the dog of a man that is in a house", "en",
         "s", 1),
        (2, "the el and la of que", "en", "s", 1),
        (3, "", "en", "s", 1),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r for r in q_lang_id_margin(spark, d).collect()}
    assert got[1]["lang_pred"] == "en" and got[1]["confident"]
    assert got[1]["margin"] >= 2
    assert not got[2]["confident"] and got[2]["margin"] <= 1
    assert got[3]["best_score"] == 0 and not got[3]["confident"]


def test_keep_first_line_dedup_ownership_and_uniqueness(spark):
    """X144: every distinct non-blank line survives exactly once corpus
    wide, at its first (id, pos) occurrence; later copies drop even
    inside the owning document; blank lines never count."""
    from ocr_automation_system_spark.functions.curation import (
        keep_first_line_dedup,
    )

    rows = [
        ("a", "alpha\nshared\nalpha"),          # intra-doc repeat of alpha
        ("b", "shared\nbeta\n\n  \nshared"),    # blanks + late copies
        ("c", "shared\ngamma"),
        ("d", ""),                               # empty doc
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r["url"]: r for r in
           keep_first_line_dedup(df, id_col="url", text_col="text")
           .collect()}
    # 'a' is lexicographically first: owns alpha (pos 0, not the pos-2
    # copy) and shared.
    assert got["a"]["kept_text"] == "alpha\nshared"
    assert (got["a"]["n_lines_kept"], got["a"]["n_lines_dropped"]) == (2, 1)
    assert got["b"]["kept_text"] == "beta"
    assert (got["b"]["n_lines_kept"], got["b"]["n_lines_dropped"]) == (1, 2)
    assert got["c"]["kept_text"] == "gamma"
    assert got["d"]["kept_text"] == "" and got["d"]["n_lines_kept"] == 0
    # global law: union of kept lines == set of distinct non-blank input
    # lines, each exactly once.
    kept_lines = [ln for r in got.values() if r["kept_text"]
                  for ln in r["kept_text"].split("\n")]
    assert sorted(kept_lines) == ["alpha", "beta", "gamma", "shared"]


def test_gopher_quality_flags_rule_battery(spark):
    """X146: every rule of the published Gopher battery fires on its
    planted fixture, in the documented first-fail order, and the clean
    document keeps."""
    from ocr_automation_system_spark.functions.curation import (
        gopher_quality_flags,
    )

    keep_doc = ("the quick brown fox jumps over the lazy dog and runs "
                "to be part of that pack with plenty of words to have "
                "here. " * 10)
    dup_lines = "\n".join(
        ["the weather would be lovely for most of that crowd."] * 5
        + [f"a different line number {i} with the usual words to be had."
           for i in range(5)])
    long_line = ("the colors of that evening have stayed with me to be "
                 "honest for years and years. " * 3)
    dup_chars = "\n".join([long_line, long_line]
                          + [f"short line {i} to be had." for i in range(8)])
    rows = [
        (1, keep_doc),
        (2, "short text"),                                   # word_count
        (3, "a " * 60),                                      # mean_word_len
        (4, "about seven #wonder things exist " * 12),       # symbol_ratio
        (5, "\n".join(["- item number one two"] * 10)),      # bullet_lines
        (6, "\n".join(["some line about things goes on and on for a "
                       "while longer tonight..."] * 10)),
        (7, "the be 123 456 789 word " * 10),                # alpha_words
        (8, "lovely weather today people walking around town squares " * 8),
        (9, dup_lines),                                      # dup_lines
        (10, dup_chars),                                     # dup_line_chars
        (11, None),                                          # word_count
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    expected = {1: "keep", 2: "word_count", 3: "mean_word_len",
                4: "symbol_ratio", 5: "bullet_lines", 6: "ellipsis_lines",
                7: "alpha_words", 8: "stopwords", 9: "dup_lines",
                10: "dup_line_chars", 11: "word_count"}
    for doc_id, reason in expected.items():
        assert got[doc_id]["reason"] == reason, (doc_id, got[doc_id])
        assert got[doc_id]["keep"] == (reason == "keep")
    assert got[1]["n_stop_hits"] == 8
    assert got[7]["alpha_word_frac"] == 0.5
    assert got[9]["dup_line_frac"] == 0.4
    # the battery is ONE narrow projection: no shuffle anywhere
    plan = (gopher_quality_flags(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_gopher_repetition_fracs_exact_and_bounded(spark):
    """X147: exact top-gram fraction on a planted period-6 doc, full
    coverage = 1.0 (never more — chars count once), zero for unique
    text, and the census plan never windows or goes all-pairs."""
    from ocr_automation_system_spark.functions.curation import (
        gopher_repetition_fracs,
    )

    rows = [
        (1, "one two three four five six one two three four five six"),
        (2, " ".join(f"w{i:02d}xyz" for i in range(30))),  # all unique
        (3, "tiny"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_repetition_fracs(df).collect()}
    # top 2-gram = 'three four' (count 2, 9 chars) over 44 token chars
    assert got[1]["top_2gram_char_frac"] == round(18 / 44, 6)
    # period-6 repeat: every position covered by a duplicated 5-gram
    assert got[1]["dup_5gram_char_frac"] == 1.0
    assert got[1]["dup_10gram_char_frac"] == 0.0  # only 3 10-grams, unique
    assert not got[1]["keep"]
    for n in (5, 6, 7, 8, 9, 10):
        assert got[2][f"dup_{n}gram_char_frac"] == 0.0
    assert got[3]["top_2gram_char_frac"] == 0.0 and got[3]["keep"]
    assert got[4]["keep"]
    # coverage is bounded by 1 even for pathological self-overlap
    rep = spark.createDataFrame([(9, "spam " * 500)],
                                "doc_id long, text string")
    r = gopher_repetition_fracs(rep).collect()[0]
    for n in (5, 6, 7, 8, 9, 10):
        assert r[f"dup_{n}gram_char_frac"] == 1.0
    plan = (gopher_repetition_fracs(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_c4_line_policy_rules(spark):
    """X148: line keep = terminal punct + >=3 words + no javascript;
    page first-fail = lorem_ipsum > curly_brace > too_few_sentences;
    the whole policy is one shuffle-free projection."""
    from ocr_automation_system_spark.functions.curation import (
        c4_line_policy,
    )

    rows = [
        (1, "This line ends well with several words here.\n"
            "no punct line\n"
            "short.\n"
            "Another good line appears with javascript inside.\n"
            "A third proper sentence line sits here tonight. More! Even? Yes."),
        (2, "Fine sentence here. " + "Lorem Ipsum dolor sit amet. " * 3),
        (3, "The code is { x: 1 }. It has sentences. More. And more. Plus. F."),
        (4, "Just one good sentence line right here."),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_line_policy(df).collect()}
    assert got[1]["reason"] == "keep" and got[1]["n_lines_kept"] == 2
    assert got[1]["n_lines_dropped"] == 3 and got[1]["n_sentences"] == 5
    assert got[1]["kept_text"].count("\n") == 1
    assert got[2]["reason"] == "lorem_ipsum"
    assert got[3]["reason"] == "curly_brace"
    assert got[4]["reason"] == "too_few_sentences"
    assert got[5]["reason"] == "too_few_sentences"
    assert got[5]["n_lines_kept"] == 0 and got[5]["kept_text"] == ""
    plan = c4_line_policy(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_encoding_damage_fixtures(spark):
    """X149: replacement chars and classic double-encoding sequences
    are counted separately; clean text (including legitimate non-ASCII)
    is never flagged; the per-doc operator is shuffle-free."""
    from ocr_automation_system_spark.functions.text import encoding_damage

    rows = [
        (1, "café naïve résumé"),        # real accents: clean
        (2, "broken � bytes � here"),               # replacement x2
        (3, "mangled cafÃ© and heâ€™s quote"),                # mojibake x2
        (4, "both � and Ã© damage"),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in encoding_damage(df).collect()}
    assert got[1] == (1, 0, 0, False)
    assert (got[2]["n_replacement"], got[2]["n_mojibake"]) == (2, 0)
    assert (got[3]["n_replacement"], got[3]["n_mojibake"]) == (0, 2)
    assert got[4]["damaged"] and got[4]["n_replacement"] == 1 \
        and got[4]["n_mojibake"] == 1
    assert not got[5]["damaged"] and not got[6]["damaged"]
    plan = encoding_damage(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_incremental_cc_update_matches_full_recompute(spark):
    """X182: stored labels + new edges == global CC over the union
    graph, on a graph mixing chain merges, a shrunken minimum (a new
    smaller id joins an old cluster), captured singletons, and
    brand-new nodes — across both CC executions (driver union-find and
    distributed pointer doubling)."""
    import random

    from ocr_automation_system_spark.functions import dedup as D

    rng = random.Random(11)
    nodes = list(range(1, 61))
    old = [(a, a + 1) for a in nodes[:20] if rng.random() < 0.5]
    old += [(30, 32), (32, 34), (40, 41)]
    new = [(5, 15), (34, 40),      # chain + cluster merges
           (0, 30),                # new smaller id -> minimum shrinks
           (55, 56), (100, 101)]   # singleton capture + brand-new nodes
    op = spark.createDataFrame(old, ["doc_a", "doc_b"])
    np_ = spark.createDataFrame(new, ["doc_a", "doc_b"])
    ids = spark.createDataFrame([(n,) for n in nodes], ["node"])
    cc0 = D.connected_components(op)
    stored = (ids.join(cc0, "node", "left")
              .select("node", F.coalesce("cluster_id", "node")
                      .alias("cluster_id")))
    full = {r["node"]: r["cluster_id"] for r in D.connected_components(
        op.unionByName(np_)).collect()}
    for thresh in (1_000_000, 0):       # driver path and distributed path
        upd = {r["node"]: r["cluster_id"]
               for r in D.incremental_cc_update(
                   stored, np_, collect_threshold=thresh).collect()}
        for n in upd:
            expect = full.get(n, n)
            assert upd[n] == expect, (thresh, n, upd[n], expect)
        assert upd[0] == 0 and upd[30] == 0 and upd[40] == 0  # shrunk min
        assert upd[100] == 100 and upd[101] == 100            # new nodes
        # untouched components keep their labels verbatim
        st = {r["node"]: r["cluster_id"] for r in stored.collect()}
        touched_labels = {st[e] for pair in new for e in pair if e in st}
        for n, lab in st.items():
            if lab not in touched_labels:
                assert upd[n] == lab


def test_confusable_skeleton_restores_spoofed_dups(spark):
    """X185: Cyrillic/Greek homoglyph swaps collapse onto the Latin
    skeleton; genuinely different texts stay apart."""
    from ocr_automation_system_spark.functions.text import (
        confusable_skeleton,
    )

    latin = "Apple sells apps"
    spoofed = "Аррlе sells аррs"        # А/р/е are Cyrillic
    greek = "Αpple sells apps"           # Greek capital Alpha
    other = "Banana sells apps"
    assert latin != spoofed and latin != greek
    df = spark.createDataFrame(
        [(1, latin), (2, spoofed), (3, greek), (4, other)], ["i", "t"])
    out = {r["i"]: r["s"] for r in df.select(
        "i", confusable_skeleton(F.col("t")).alias("s")).collect()}
    assert out[1] == out[2] == out[3] == latin
    assert out[4] == other != out[1]


def test_confusable_skeleton_multichar_targets(spark):
    """Round-5 UTS #39 extension: single codepoints with MULTI-char
    Latin skeletons (ligatures ﬁ/ﬃ, digraphs ǉ/ĳ, signs №/₨/‼) fold
    through the chained replace — translate alone can't express these.
    The chain is confluent (ASCII-only targets, distinct one-codepoint
    sources), the twin renderer emits the identical fold, and
    multi=() recovers the round-4 single-char-only behavior."""
    import duckdb

    from ocr_automation_system_spark.functions.text import (
        CONFUSABLE_MULTI, confusable_skeleton, sql_confusable_skeleton,
    )

    cases = [
        (1, "The ﬁnal ﬂight oﬃce", "The final flight office"),
        (2, "Ǉubljana ǌegov ĳs", "LJubljana njegov ijs"),
        (3, "№ 5 costs ₨ 20‼", "No 5 costs Rs 20!!"),
        (4, "Œuvre cœur ʦar", "OEuvre coeur tsar"),
        # mixed single+multi in one text: ligature AND Cyrillic а
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases],
                               ["i", "t"])
    out = {r["i"]: r["s"] for r in df.select(
        "i", confusable_skeleton(F.col("t")).alias("s")).collect()}
    for i, _t, want in cases:
        assert out[i] == want, (i, out[i])
    # sanity: every source is 1 codepoint, every target pure ASCII,
    # and no source appears in any target (the confluence argument)
    tgts = "".join(d for _s, d in CONFUSABLE_MULTI)
    for s, d in CONFUSABLE_MULTI:
        assert len(s) == 1 and d.isascii() and s not in tgts
    # the SQL renderer is the same fold
    con = duckdb.connect()
    for _i, t, want in cases:
        got = con.execute(
            "SELECT " + sql_confusable_skeleton("?::VARCHAR"), [t]
        ).fetchone()[0]
        assert got == want, (t, got)
    # opt-out returns the single-char-only fold
    df1 = spark.createDataFrame([("ﬁx а",)], ["t"])
    single = df1.select(
        confusable_skeleton(F.col("t"), multi=()).alias("s")
    ).collect()[0]["s"]
    assert single == "ﬁx a"  # Cyrillic а folded, ligature kept


def test_key_skew_audit_math_and_empty(spark):
    """X186: exact salt arithmetic on a crafted skew, empty-input law."""
    from ocr_automation_system_spark.functions.util import key_skew_audit

    rows = [(i, "hot" if i < 80 else f"k{i}") for i in range(100)]
    df = spark.createDataFrame(rows, ["i", "k"])
    out = {r["key_col"]: r for r in key_skew_audit(
        df, {"k": F.col("k")}, n_partitions=10).collect()}
    r = out["k"]
    assert r["n_rows"] == 100 and r["n_keys"] == 21
    assert r["top1_count"] == 80 and r["top1_frac"] == 0.8
    # hottest key holds 80% of rows; 10 reducer slots of 10 rows each
    # -> split it ceil(80*10/100) = 8 ways
    assert r["salt_factor"] == 8
    empty = spark.createDataFrame([], "i long, k string")
    assert key_skew_audit(empty, {"k": F.col("k")}).count() == 0


def test_curriculum_write_plan_ordering(spark):
    """X188: epoch 0 is band-monotone (every high-quality doc sorts
    before every lower-band doc); later epochs are band-independent
    uniform orders; the doc multiset is identical across epochs."""
    from ocr_automation_system_spark.queries import q_curriculum_write_plan

    rows = q_curriculum_write_plan(spark, "/root/testdata/sf0.001").collect()
    by_ep = {}
    for r in rows:
        by_ep.setdefault(r["epoch"], []).append(r)
    assert set(by_ep) == {0, 1, 2}
    docs0 = sorted(r["doc_id"] for r in by_ep[0])
    assert docs0 == sorted(r["doc_id"] for r in by_ep[1])
    # epoch 0: sort by key -> bands descend monotonically (3,3,...,0)
    e0 = sorted(by_ep[0], key=lambda r: r["sort_key"])
    bands = [r["band"] for r in e0]
    assert bands == sorted(bands, reverse=True)
    assert bands[0] == 3 and bands[-1] < 3     # both ends populated
    # epoch 1: order uncorrelated with band (first 50 mix bands)
    e1 = sorted(by_ep[1], key=lambda r: r["sort_key"])
    assert len({r["band"] for r in e1[:50]}) > 1
    # epochs 1 and 2 are DIFFERENT orders of the same multiset
    assert [r["doc_id"] for r in e1] != [
        r["doc_id"] for r in sorted(by_ep[2], key=lambda r: r["sort_key"])]
