"""Deduplication operators for corpus curation.

Four tiers, cheapest first — the standard web-corpus dedup ladder:

1. **Exact** — md5 groupBy (one shuffle on the hash key; map-side partial
   agg; uniform keys so no skew).
2. **MinHash + LSH** — shingle -> banded min-hash -> band-bucket self-join.
   Candidate generation never goes quadratic: the join key is
   ``(band_index, band_signature)`` so only same-bucket docs meet, and the
   bucket cardinality is bounded by the corpus's true near-dup structure.
3. **SimHash** — 64-bit signatures (two 32-bit halves); Hamming-adjacent
   buckets via 4x16-bit block keys (two signatures within Hamming distance
   3 share at least one of 4 blocks — pigeonhole; 65,536 keys per block so
   buckets stay bounded at 10^9+ docs), then exact Hamming check on
   candidates, with a bucket-occupancy cap before the self-join.
4. **Exact-verify** — n-gram Jaccard on LSH candidates only.

At 10^12 rows every stage is a hash-partitioned shuffle on a derived key;
AQE coalesces the (mostly tiny) buckets. Nothing here touches Python —
whole-stage codegen end to end (see `functions/text.py` for the column
builders shared with the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import (
    MINHASH_A, MINHASH_C, MINHASH_P, clean_text, content_hash,
    shingle_hash_sql, shingle_hashes, shingles, shingles_sql, ws_tokens,
)
from .util import drop_overcap_keys, ensure_parallelism


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_sample_ids: int = 100) -> DataFrame:
    """Exact-dup groups: (content_hash, n_docs, keep_doc_id=min id, doc_ids).

    The canonical keep-one-per-group primitive: a single groupBy shuffle.
    ``doc_ids`` is a SAMPLE capped at ``max_sample_ids`` (O2-style slice):
    an unbounded collect_list on a mega-dup group (a boilerplate page
    duplicated 10^8 times) would materialize the whole id list in one
    reducer. ``n_docs`` stays exact.
    """
    hashed = df.select(
        F.col(id_col).alias("doc_id"), content_hash(F.col(text_col)).alias("content_hash")
    )
    return (
        hashed.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list(F.col("doc_id").cast("string"))),
                        1, max_sample_ids), ",")
             .alias("doc_ids"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                skeleton: bool = False) -> DataFrame:
    """Keep the min-id representative of every exact-dup group (min_by —
    no window needed, one aggregation). ``skeleton=True`` (X185) keys
    the group on the confusable-skeleton hash instead of the raw hash,
    so homoglyph-spoofed copies (Cyrillic а for Latin a) land in one
    group — same plan, one extra codegen ``translate`` in the key."""
    from .text import confusable_skeleton

    t = F.col(text_col)
    key = content_hash(confusable_skeleton(t) if skeleton else t)
    h = df.withColumn("_h", key)
    keep = h.groupBy("_h").agg(F.min(F.col(id_col)).alias(id_col)).drop("_h")
    return df.join(keep, id_col, "left_semi")


def _empty_band_sig(rows_per_band: int) -> str:
    """Sentinel band signature of a doc with no shingles (every min-hash is
    the MINHASH_P sentinel) — computed from rows_per_band so non-default
    band shapes still filter empty docs out of candidate generation."""
    return "|".join([str(MINHASH_P)] * rows_per_band)


def minhash_bands(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, bands: int = 4, rows_per_band: int = 2) -> DataFrame:
    """(doc_id, band, sig) — the LSH index table, banding ``rows_per_band``
    min-hashes per band (b=4, r=2 default: P[candidate] = 1-(1-j^2)^4, so
    weakly-similar pairs don't flood the band join the way r=1 banding
    does). Docs with < n tokens carry the sentinel signature and are
    dropped from candidate generation.

    Three-step projection on purpose: the base-hash array (one md5 per
    shingle) is materialized in its own Project, so the n_hashes min-hash
    expressions referencing it don't each re-run tokenize->shingle->md5
    (CollapseProject refuses to inline a non-cheap expression referenced
    more than once). Each step reaches the JVM as Spark SQL text, one
    call per projection (the ``operators/sqltext`` convention)."""
    n_hashes = bands * rows_per_band
    assert n_hashes <= len(MINHASH_A), (
        f"bands*rows_per_band={n_hashes} exceeds the {len(MINHASH_A)} "
        f"universal-hash parameter pairs in text.MINHASH_A/MINHASH_C")
    df = ensure_parallelism(df)
    # explode -> md5 -> n_hashes MIN aggregates in ONE hash aggregate:
    # whole-stage codegen throughout, and map-side partial aggregation
    # collapses each doc's shingles to one n_hashes-wide row BEFORE the
    # shuffle on doc_id (shuffle payload ~ n_docs * n_hashes longs, not
    # the shingle set). A previous version computed array_min over
    # per-shingle F.transform lambdas — higher-order functions are
    # CodegenFallback (interpreted per element) and carried a large
    # one-time codegen-compile cost on top.
    sh = df.selectExpr(f"{id_col} AS doc_id",
                       f"explode({shingles_sql(text_col, n)}) AS s")
    hp = sh.selectExpr("doc_id",
                       f"pmod({shingle_hash_sql('s')}, {MINHASH_P}) AS hp")
    sigs = hp.groupBy("doc_id").agg(*[
        F.expr(f"min(pmod({MINHASH_A[i]} * hp + {MINHASH_C[i]}, "
               f"{MINHASH_P})) AS m{i}")
        for i in range(n_hashes)
    ])
    band_strs = ", ".join(
        "concat_ws('|', " + ", ".join(
            f"CAST(m{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)) + ")"
        for b in range(bands))
    # Shingle-less docs never reach the aggregate (explode of an empty
    # array yields no rows) — exactly the rows the sentinel filter used
    # to drop, so the band table is unchanged; the filter stays as a
    # belt-and-braces guard for callers feeding pre-built signatures.
    return (
        sigs.selectExpr("doc_id", f"posexplode(array({band_strs})) AS (band, sig)")
        .filter(f"sig != '{_empty_band_sig(rows_per_band)}'")
    )


def minhash_bands_stateless(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            bands: int = 4,
                            rows_per_band: int = 2) -> DataFrame:
    """Row-local band table — same rows as ``minhash_bands``, computed
    without any aggregation: the min-hash folds run as higher-order
    functions over the per-row shingle array. This is the STREAMING form
    (append-mode micro-batches allow no stateful aggregation without a
    watermark; every expression here is stateless), also fine for small
    batches. The HOF min is interpreted (CodegenFallback), so the
    aggregate form stays the batch default. Parity with ``minhash_bands``
    is pinned by test."""
    from .text import bind_array

    n_hashes = bands * rows_per_band
    sh = shingles(text_col, n)

    def _perm(i: int):
        # NOTE: a 2-arg transform lambda would receive (element, index) —
        # a factory closure keeps the hash index a Python int
        return lambda h: F.pmod(F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_C[i]),
                                F.lit(MINHASH_P))

    def _bands(hp: Column) -> Column:
        mins = [F.array_min(F.transform(hp, _perm(i)))
                for i in range(n_hashes)]
        return F.array(*[
            F.concat_ws("|", *[mins[b * rows_per_band + r].cast("string")
                               for r in range(rows_per_band)])
            for b in range(bands)
        ])

    hp = F.transform(
        sh, lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            F.lit(MINHASH_P)))
    return (df
            .filter(F.size(sh) > 0)
            .select(F.col(id_col).alias("doc_id"),
                    F.posexplode(bind_array(hp, _bands))
                    .alias("band", "sig")))


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        bands: int = 4, rows_per_band: int = 2,
                        cache_index: bool = False) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing >= 1 minhash band.

    Self-equi-join on (band, sig): the only shuffle is hash-partitioned on
    the band signature — never a cross join. A pathological bucket (giant
    cluster of identical docs) is exactly the AQE skew-join case; at corpus
    scale add a bucket-size cap filter before the join if needed.
    """
    bt = minhash_bands(df, id_col, text_col, n, bands, rows_per_band)
    if cache_index:
        # Both self-join sides read the same band table; without a persist
        # each side re-runs tokenize->shingle->hash over the corpus. At
        # production scale the index is WRITTEN once as a table instead
        # (``write_dedup_index``) — this is the in-session equivalent
        # (tiny: ~bands rows per doc).
        bt = bt.persist()
    return (
        bt.alias("a").join(bt.alias("b"), ["band", "sig"])
        .filter("a.doc_id < b.doc_id")
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
        .distinct()
    )


def minhash_recall_sample(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", sample_target: int = 256,
                          threshold: float = 0.5, n: int = 3,
                          bands: int = 4,
                          rows_per_band: int = 2) -> DataFrame:
    """LSH quality diagnostic: banded-candidate RECALL against exact
    Jaccard, measured on a deterministic md5 sample. Returns
    per-Jaccard-band (floor(10j)) true-pair and caught-pair counts —
    the sizing feedback for (bands, rows_per_band), read next to
    ``lsh_bucket_stats``.

    The exact all-pairs pass runs INSIDE the sample only — that is the
    point: recall estimation is the one place quadratic work is
    justified. The sample is bounded by SIZE, not rate: keep a row iff
    its 32-bit md5 fraction < floor(least(1, sample_target/N)·2^32) — N
    attached as a broadcast 1-row count, every float op
    correctly-rounded (the ``alpha_sample`` discipline), so the sample
    is deterministic cross-engine AND the quadratic cost stays
    ~sample_target² no matter how the corpus grows (a fixed rate would
    scale it with corpus size squared)."""
    nrow = df.agg(F.count(F.lit(1)).alias("_n"))
    thr = F.floor(
        F.least(F.lit(1.0),
                F.lit(float(sample_target))
                / F.col("_n").cast("double"))
        * F.lit(4294967296.0)).cast("long")
    h32 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                             1, 8), 16, 10).cast("long")
    samp = (df.crossJoin(F.broadcast(nrow))
            .filter(h32 < thr).drop("_n"))
    sh = (samp.select(F.col(id_col).alias("doc_id"),
                      shingles(text_col, n).alias("sh"))
          .filter(F.size("sh") > 0))
    a, b = sh.alias("a"), sh.alias("b")
    true_pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                (F.size(F.array_intersect("a.sh", "b.sh"))
                 / F.size(F.array_union("a.sh", "b.sh"))).alias("j"))
        .filter(F.col("j") >= threshold))
    cand = (lsh_candidate_pairs(samp, id_col, text_col, n, bands,
                                rows_per_band)
            .withColumn("_c", F.lit(1)))
    return (true_pairs.join(cand, ["doc_a", "doc_b"], "left")
            .groupBy(F.floor(F.col("j") * 10).cast("long").alias("band"))
            .agg(F.count(F.lit(1)).alias("n_true"),
                 F.sum(F.when(F.col("_c").isNotNull(), 1).otherwise(0))
                 .cast("long").alias("n_caught")))


def write_dedup_index(df: DataFrame, path: str, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3, bands: int = 4,
                      rows_per_band: int = 2) -> None:
    """The incremental-dedup artifact: the ``minhash_bands`` table,
    partitioned by band so a band-keyed read prunes the other bands'
    files, PLUS the shingle store the exact-Jaccard verify pass reads.
    Written once per corpus snapshot; every later snapshot dedups
    against it without touching corpus text again."""
    (minhash_bands(df, id_col, text_col, n, bands, rows_per_band)
     .write.mode("overwrite").partitionBy("band")
     .parquet(os.path.join(path, "bands")))
    (ensure_parallelism(df)
     .select(F.col(id_col).alias("doc_id"),
             shingles(text_col, n).alias("sh"))
     .write.mode("overwrite").parquet(os.path.join(path, "shingles")))


def incremental_dedup(new_df: DataFrame, spark, path: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, bands: int = 4, rows_per_band: int = 2,
                      threshold: float = 0.6) -> DataFrame:
    """Dedup an incoming snapshot against a stored corpus index (the
    monthly-crawl pattern): only the NEW docs are shingled/hashed; their
    bands equi-join the stored band table on (band, sig), candidates are
    verified with exact Jaccard against the stored shingle sets, and each
    new doc gets a verdict row (doc_id, n_corpus_dups, dup_of, keep).

    Scale shape: the corpus index is read, never recomputed; the band
    join shuffles on the signature key only (the corpus side arrives
    pre-partitioned by band); the verify join touches candidates only.
    ``dup_of`` is the smallest matching corpus id, -1 when none (kept
    non-null so the contract surface carries no nullable ints).
    Shingle params must match the ones used at ``write_dedup_index``."""
    verdict_base = new_df.select(F.col(id_col).alias("doc_id"))
    try:
        idx = spark.read.parquet(os.path.join(path, "bands"))
        corpus_sh = spark.read.parquet(os.path.join(path, "shingles"))
    except Exception:
        # empty corpus index (a partitioned write of 0 rows leaves no
        # readable files): everything in the snapshot is novel
        return verdict_base.select(
            "doc_id", F.lit(0).cast("long").alias("n_corpus_dups"),
            F.lit(-1).cast("long").alias("dup_of"),
            F.lit(True).alias("keep"))
    nb = minhash_bands(new_df, id_col, text_col, n, bands, rows_per_band)
    cand = (nb.alias("n").join(idx.alias("c"), ["band", "sig"])
            .select(F.col("n.doc_id").alias("new_id"),
                    F.col("c.doc_id").alias("corpus_id"))
            .distinct())
    new_sh = (ensure_parallelism(new_df)
              .select(F.col(id_col).alias("new_id"),
                      shingles(text_col, n).alias("sh_n")))
    ver = (cand
           .join(new_sh, "new_id")
           .join(corpus_sh.select(F.col("doc_id").alias("corpus_id"),
                                  F.col("sh").alias("sh_c")), "corpus_id")
           .filter((F.size(F.array_intersect("sh_n", "sh_c"))
                    / F.size(F.array_union("sh_n", "sh_c"))) >= threshold))
    agg = (ver.groupBy("new_id")
           .agg(F.count(F.lit(1)).alias("n_corpus_dups"),
                F.min("corpus_id").alias("dup_of")))
    return (verdict_base
            .join(agg, verdict_base.doc_id == agg.new_id, "left")
            .select("doc_id",
                    F.coalesce("n_corpus_dups", F.lit(0)).cast("long")
                    .alias("n_corpus_dups"),
                    F.coalesce("dup_of", F.lit(-1)).cast("long")
                    .alias("dup_of"),
                    F.col("n_corpus_dups").isNull().alias("keep")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3, bands: int = 4,
                        rows_per_band: int = 2, threshold: float = 0.0,
                        cache_index: bool = False) -> DataFrame:
    """LSH candidates verified with exact n-gram Jaccard.

    Join the (small) candidate-pair set back to the shingle table twice —
    both joins are on doc ids (uniform), the Jaccard itself is an array
    intersection per row. Returns (doc_a, doc_b, jaccard)."""
    sh = ensure_parallelism(df).selectExpr(
        f"{id_col} AS doc_id", f"{shingles_sql(text_col, n)} AS sh")
    if cache_index:
        sh = sh.persist()  # joined twice (doc_a and doc_b sides)
    pairs = lsh_candidate_pairs(df, id_col, text_col, n, bands, rows_per_band,
                                cache_index)
    j = (
        pairs
        .join(sh.selectExpr("doc_id AS doc_a", "sh AS sh_a"), "doc_a")
        .join(sh.selectExpr("doc_id AS doc_b", "sh AS sh_b"), "doc_b")
        .selectExpr("doc_a", "doc_b",
                    "size(array_intersect(sh_a, sh_b)) "
                    "/ size(array_union(sh_a, sh_b)) AS jaccard")
    )
    if threshold > 0.0:
        j = j.filter(f"jaccard >= {float(threshold)!r}D")
    return j


def bag_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      bands: int = 4, rows_per_band: int = 2,
                      threshold: float = 0.0) -> DataFrame:
    """X187 — MULTISET (bag) Jaccard verify over LSH candidates:
    J_bag = Σ_g min(c_a, c_b) / Σ_g max(c_a, c_b) over gram COUNTS.
    Set-Jaccard is blind to repetition — a page padded with 50 copies
    of one paragraph has the same shingle SET as the single-copy page
    (J_set = 1.0) although 98% of its mass is the padding; the bag form
    scores it c_min/c_max and exposes the difference. Returned pairs
    carry both scores, so the divergence (set high, bag low) is itself
    the repetition-spam signal.

    Exactness: gram counts are integers, Σmin is an integer,
    Σmax = |bag_a| + |bag_b| − Σmin — so J_bag is ONE correctly-rounded
    division of exact integers (bit-identical cross-engine).

    Scale shape: candidates from the banded self-join (never
    all-pairs); the gram-count table is one map-side-combined
    groupBy(doc, gram) — the postings shape; Σmin is a pair-keyed
    aggregate over shared grams only. No windows, no arrays collected
    per pair.

    Cache lifetime: the gram-count table is ``persist()``-ed because
    three legs of the returned plan read it (sizes + both join sides);
    the result is lazy, so the CALLER owns the cache — in a long-lived
    session, unpersist via the ``cached`` handle attached to the
    returned frame (``out.cached.unpersist()``) once the result is
    materialized, the same contract as the persisted chunk/fingerprint
    tables in ``cdc_dup_pairs`` / ``winnow_dup_pairs``. The handle is
    a plain attribute on THIS frame only — any further transformation
    returns a new frame without it, so grab it before chaining (or use
    ``spark.catalog.clearCache()`` between queries, which is what the
    repo's own bench/compare entry points do)."""
    from .text import clean_text, positional_grams, ws_tokens

    cand = lsh_candidate_pairs(df, id_col, text_col, n, bands,
                               rows_per_band)
    grams = positional_grams(
        ws_tokens(clean_text(F.col(text_col))), n,
        lambda s: F.concat_ws(" ", s))
    tc = (ensure_parallelism(df)
          .select(F.col(id_col).alias("doc_id"),
                  F.explode(grams).alias("g"))
          .groupBy("doc_id", "g")
          .agg(F.count(F.lit(1)).alias("c"))
          .persist())
    sizes = tc.groupBy("doc_id").agg(F.sum("c").alias("bag"),
                                     F.count(F.lit(1)).alias("set"))
    a = tc.select(F.col("doc_id").alias("doc_a"), "g",
                  F.col("c").alias("ca"))
    b = tc.select(F.col("doc_id").alias("doc_b"), "g",
                  F.col("c").alias("cb"))
    shared = (cand.join(a, "doc_a").join(b, ["doc_b", "g"])
              .groupBy("doc_a", "doc_b")
              .agg(F.sum(F.least("ca", "cb")).alias("inter_bag"),
                   F.count(F.lit(1)).alias("inter_set")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("bag").alias("bag_a"),
                      F.col("set").alias("set_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("bag").alias("bag_b"),
                      F.col("set").alias("set_b"))
    out = (shared.join(sa, "doc_a").join(sb, "doc_b")
           .select("doc_a", "doc_b",
                   F.col("inter_bag").cast("long"),
                   (F.col("bag_a") + F.col("bag_b")
                    - F.col("inter_bag")).cast("long").alias("union_bag"),
                   F.round(F.col("inter_bag").cast("double")
                           / (F.col("bag_a") + F.col("bag_b")
                              - F.col("inter_bag")).cast("double"), 6)
                   .alias("bag_jaccard"),
                   F.round(F.col("inter_set").cast("double")
                           / (F.col("set_a") + F.col("set_b")
                              - F.col("inter_set")).cast("double"), 6)
                   .alias("set_jaccard")))
    res = out.filter(F.col("bag_jaccard") >= threshold)
    res.cached = tc  # caller-owned cache handle (see docstring)
    return res


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.5,
                      max_docs_per_shingle: int = 64) -> DataFrame:
    """One-sided near-containment pairs (Broder 1997's containment
    c(A,B) = |S(A)∩S(B)| / |S(A)| — the quote/subset signal): pairs
    where either doc's shingle set is >= ``threshold`` covered by the
    other's. Returns (doc_a, doc_b, common, size_a, size_b,
    containment_a_in_b, containment_b_in_a).

    Why this is a separate operator from the Jaccard ladder: resemblance
    LSH MISSES asymmetric overlap by design — a paragraph quoted inside
    a book has Jaccard ≈ |A|/|B| ≈ 0, so no band ever collides.
    Candidate generation here is the exact shared-shingle equi-join of
    ``duplicate_spans``: any pair with c >= threshold shares >= 1
    shingle, so recall is exact over the surviving shingle vocabulary.

    The occupancy cap censors shingles present in more than
    ``max_docs_per_shingle`` docs (boilerplate n-grams — the skew AND
    the noise), and both the intersection and the sizes are computed
    over that SURVIVING vocabulary, so the ratio stays self-consistent:
    c = coverage of A's discriminative shingles. A doc made entirely of
    boilerplate has no surviving shingles and appears in no pair.

    Scale shape: one shingle census (map-side combinable groupBy) +
    broadcast anti-join for the cap, one self-equi-join keyed by the
    8-byte shingle hash (bounded buckets by construction), two hash
    aggs; never all-pairs, nothing driver-side. Determinism: counts are
    exact integers; each containment is a single correctly-rounded
    division — bit-identical in any engine/partitioning."""
    sh = (ensure_parallelism(df)
          .select(F.col(id_col).alias("_doc"),
                  F.explode(shingle_hashes(text_col, n)).alias("_h")))
    # read 3x (sizes + both self-join sides); survivors are the
    # non-boilerplate shingle stream — at cluster scale write them
    # bucketed by hash instead (the duplicate_spans convention)
    surv = drop_overcap_keys(sh, "_h", max_docs_per_shingle).persist()
    sizes = surv.groupBy("_doc").agg(F.count(F.lit(1)).alias("_sz"))
    a, b = surv.alias("a"), surv.alias("b")
    common = (a.join(b, "_h")
              .filter(F.col("a._doc") < F.col("b._doc"))
              .groupBy(F.col("a._doc").alias("doc_a"),
                       F.col("b._doc").alias("doc_b"))
              .agg(F.count(F.lit(1)).alias("common")))
    c_ab = F.col("common").cast("double") / F.col("size_a").cast("double")
    c_ba = F.col("common").cast("double") / F.col("size_b").cast("double")
    return (common
            .join(sizes.select(F.col("_doc").alias("doc_a"),
                               F.col("_sz").alias("size_a")), "doc_a")
            .join(sizes.select(F.col("_doc").alias("doc_b"),
                               F.col("_sz").alias("size_b")), "doc_b")
            .select("doc_a", "doc_b", "common", "size_a", "size_b",
                    c_ab.alias("containment_a_in_b"),
                    c_ba.alias("containment_b_in_a"))
            .filter(F.greatest(F.col("containment_a_in_b"),
                               F.col("containment_b_in_a"))
                    >= F.lit(float(threshold))))


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b", max_iter: int = 50,
                         collect_threshold: int = 1_000_000,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over an undirected near-dup pair set ->
    (node, cluster_id) with cluster_id = min node id in the component.

    Hybrid execution, same spirit as Spark's broadcast-join threshold:

    * at most ``collect_threshold`` undirected pair rows (as given,
      duplicates included): one ``limit(collect_threshold + 1)`` Arrow
      collect fetches them and union-find runs on the driver (the dup GRAPH
      after LSH+Jaccard filtering is orders of magnitude smaller than
      the corpus — collecting pairs is not collecting data; at toy scale
      this replaces ~5s of per-round job latency with milliseconds). No
      other Spark job runs: no symmetrized edge table, no persist, no
      count or fingerprint, and the (node, cluster_id) labels come back
      as a local relation built from an Arrow table, so a query that
      reads them needs no Python worker.
    * larger: min-label propagation WITH pointer doubling — every node
      starts labeled with itself; each round a node takes the min of its
      own label, its neighbors' labels, and its label's label (the
      pointer-jumping shortcut). The doubling term turns worst-case
      convergence from O(diameter) rounds (a 1024-node dup chain would
      need 1023) into O(log diameter): the pointer distance doubles per
      round. Each round is two hash joins + one partial-agg groupBy,
      all shuffled on node ids (uniform). Correctness: labels only
      decrease, always name a member of the node's own component, and
      label(v) <= v — so the fixpoint labeling is constant per
      component and equal to the component minimum.

    Both paths are deterministic (min is order-independent) and produce
    identical results — ``test_connected_components_paths_agree`` pins
    that. The distributed path raises RuntimeError if ``max_iter``
    rounds don't reach the fixpoint (never silently returns partial
    clusters).

    ``checkpoint_dir``: when set, every round's label table commits as
    parquet under it (atomic tmp+rename, same discipline as
    ``plans.resume``) instead of ``localCheckpoint``. That makes the
    iteration RELIABLE (localCheckpoint blocks are executor-local — a
    lost executor kills the job mid-ladder; parquet on the job's
    durable storage survives) and RESUMABLE: a re-run with the same dir
    skips the compute of every committed round and replays only the
    cheap read-back joins (``test_resume.py::
    test_cc_resumes_from_committed_rounds``). Batch callers pass the
    job's checkpoint/output dir, exactly as ``--curate`` does.

    The distributed path alone builds the symmetric edge table, and its
    checkpoint subdir is keyed by a FINGERPRINT of that table (count +
    order-independent xor of xxhash64(src,dst), one aggregate over the
    persisted edges): a resumed job whose input
    grew (the supported interrupt/resume workflow — extraction resumes
    with more buckets, then --curate re-runs into the same output dir)
    gets a fresh subdir instead of silently replaying the stale edge
    set's rounds; a byte-identical re-run still resumes. Stale
    fingerprints' subdirs are pruned on entry."""
    # One action: up to collect_threshold + 1 undirected pairs. If they
    # all fit, union-find runs on them as they are — union is symmetric,
    # so no symmetrized, distinct or persisted edge table is needed.
    # toArrow runs the limit as one job over every partition (a local
    # limit per task, then one single-partition read); collect() would
    # scan the partitions in growing waves of jobs (1, 4, 16, ...), one
    # more wave whenever the pairs do not fill the limit.
    small = pairs.select(a_col, b_col).limit(collect_threshold + 1).toArrow()
    if small.num_rows <= collect_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(small.column(0).to_pylist(),
                        small.column(1).to_pylist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min keeps roots = component minima
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        import pyarrow as pa
        from pyspark.sql.types import StructField, StructType

        node_type = pairs.schema[a_col].dataType
        schema = StructType([
            StructField("node", node_type, False),
            StructField("cluster_id", node_type, False),
        ])
        # An Arrow table becomes a driver-side LocalRelation: the labels
        # reach the JVM without a Python-worker stage (a list of tuples
        # would be unpickled by Python workers in every consuming query).
        nodes = list(parent)
        return pairs.sparkSession.createDataFrame(
            pa.table({"node": nodes, "cluster_id": [find(n) for n in nodes]}),
            schema)

    sym = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    stats = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("fp")).collect()[0]
    n_edges = stats["n"]

    # Truncate lineage EVERY round: persist alone caches data but the
    # logical plan still nests one join deeper per round, and Catalyst's
    # optimization time on that tower grows super-linearly — ~15 rounds
    # hangs the driver. Without a checkpoint_dir the cut is
    # localCheckpoint (executor-local blocks, fine for ad-hoc queries);
    # with one, each round is a durable parquet commit that is skipped
    # (read back, not recomputed) on a resumed run.
    spark = pairs.sparkSession

    # input-keyed checkpoint namespace + stale-fingerprint pruning
    fp_hex = f"{(stats['fp'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
    cc_name = f"cc-{n_edges}-{fp_hex}"
    if checkpoint_dir is not None and os.path.isdir(checkpoint_dir):
        import re
        import shutil

        for d in os.listdir(checkpoint_dir):
            # prune cc-* siblings (and the legacy unkeyed 'cc') ONLY —
            # the dir is shared with other stages' checkpoints
            if re.fullmatch(r"cc(-\d+-[0-9a-f]{16})?", d) and d != cc_name:
                shutil.rmtree(os.path.join(checkpoint_dir, d),
                              ignore_errors=True)

    def commit(df: DataFrame, name: str) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        import shutil

        dest = os.path.join(checkpoint_dir, cc_name, name)
        if not os.path.exists(dest):
            tmp = dest + ".inprogress"  # killed-run leftovers overwritten
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            df.write.mode("overwrite").parquet(tmp)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(tmp, dest)
        return spark.read.parquet(dest)

    edges_ckpt = commit(edges, "edges")
    edges.unpersist()
    edges = edges_ckpt
    labels = commit(
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node")), "round_00000")
    for i in range(max_iter):
        nbr = (edges.join(labels.withColumnRenamed("node", "dst"), "dst")
               .groupBy("src").agg(F.min("label").alias("nbr_min"))
               .withColumnRenamed("src", "node"))
        # pointer doubling: my label's label (label values are node ids,
        # so this is a self-join of the label table)
        ll = labels.select(F.col("node").alias("label"),
                           F.col("label").alias("ll_min"))
        new_labels = commit(
            labels.join(nbr, "node", "left")
            .join(ll, "label", "left")
            .select("node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nbr_min"), F.col("label")),
                        F.coalesce(F.col("ll_min"), F.col("label")))
                    .alias("label")), f"round_{i + 1:05d}")
        changed = (new_labels.withColumnRenamed("label", "new_label")
                   .join(labels, "node")
                   .filter(F.col("new_label") < F.col("label")).count())
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds")


def incremental_cc_update(labels: DataFrame, new_edges: DataFrame,
                          node_col: str = "node",
                          label_col: str = "cluster_id",
                          a_col: str = "doc_a", b_col: str = "doc_b",
                          **cc_kwargs) -> DataFrame:
    """X182 — maintain a stored connected-components labeling under a
    NEW edge set without a global recompute (the monthly-crawl cluster
    bookkeeping: last month's dedup clusters are a (node, cluster_id)
    parquet; this month's near-dup pass emits new↔new and new↔corpus
    pairs; clusters must merge accordingly). The old EDGES are gone —
    deliberately: the labels table alone is sufficient state, because
    within a component the star edges (member — cluster_id) preserve
    exactly its connectivity.

    Plan, in corpus-scale order of magnitude:

    1. endpoints of the new edges (|E'| rows, not corpus rows);
    2. AFFECTED cluster ids = stored labels of those endpoints — a
       semi-join, then a distinct over a set bounded by |E'|;
    3. members of affected components via a broadcast semi-join on the
       tiny affected-id set — every other component's rows are never
       read past the scan filter;
    4. :func:`connected_components` over E' ∪ affected-star-edges (the
       hybrid driver/pointer-doubling machinery, checkpoints and all);
    5. untouched labels pass through by broadcast ANTI-join.

    So the recompute volume is (new edges + members of clusters they
    touch), not corpus size — the labels of 10^12 untouched docs are
    never shuffled. Min-label semantics are preserved: the sub-CC sees
    every member of every merged component, so the new cluster_id is
    the true component minimum (it may shrink when a smaller new id
    joins). Nodes appearing in neither ``labels`` nor ``new_edges``
    are the caller's to self-label, mirroring connected_components'
    contract."""
    l0 = labels.select(F.col(node_col).alias("node"),
                       F.col(label_col).alias("cluster_id"))
    ends = (new_edges.select(F.col(a_col).alias("node"))
            .unionByName(new_edges.select(F.col(b_col).alias("node")))
            .distinct())
    touched = (l0.join(ends, "node", "left_semi")
               .select("cluster_id").distinct())
    affected = l0.join(F.broadcast(touched), "cluster_id", "left_semi")
    star = (affected.filter(F.col("node") != F.col("cluster_id"))
            .select(F.col("node").alias(a_col),
                    F.col("cluster_id").alias(b_col)))
    sub = connected_components(
        new_edges.select(a_col, b_col).unionByName(star),
        a_col=a_col, b_col=b_col, **cc_kwargs)
    kept = l0.join(F.broadcast(touched), "cluster_id", "left_anti")
    return kept.unionByName(sub)


def dedup_cluster_keep(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       jaccard_threshold: float = 0.6,
                       checkpoint_dir: str | None = None,
                       pairs: DataFrame | None = None) -> DataFrame:
    """The dedup ladder's end state: (doc_id, cluster_id, keep).

    LSH candidates -> exact n-gram Jaccard >= threshold -> connected
    components -> every doc labeled with its cluster representative
    (min doc_id in the component; singletons are their own cluster) and
    ``keep`` = is-the-representative. ``df.filter(keep)`` is the
    deduplicated corpus; the (doc_id, cluster_id) table is the lineage
    record a 100 TB pipeline writes next to it.

    ``pairs`` swaps in an alternative candidate-pair detector (any
    (doc_a, doc_b) DataFrame — e.g. ``curation.winnow_dup_pairs`` for
    guaranteed-recall winnowing instead of probabilistic LSH); the CC +
    labeling machinery downstream is detector-agnostic, and the durable
    CC checkpoints stay safe across detector switches because they are
    keyed by an edge-set fingerprint, not by name."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, id_col, text_col, n=n,
                                    threshold=jaccard_threshold,
                                    cache_index=True)
    cc = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", (F.col("doc_id") == F.col("cluster_id")).cast("boolean"))
    )


def cluster_keep_best(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      quality_col: str = "quality", n: int = 3,
                      jaccard_threshold: float = 0.6,
                      checkpoint_dir: str | None = None,
                      pairs: DataFrame | None = None) -> DataFrame:
    """Quality-aware cluster representative: (doc_id, cluster_id, keep)
    where ``keep`` marks the BEST member of each near-dup cluster —
    highest ``quality_col``, smallest id on ties — instead of
    ``dedup_cluster_keep``'s min-id convention. This is what a
    production ladder actually retains (the cleanest extraction among
    near-identical captures), while ``cluster_id`` stays the min-id
    component label so the lineage key is stable even if the quality
    signal is later re-scored.

    Scale shape: the ladder (LSH -> Jaccard verify -> CC; or any
    ``pairs`` detector swapped in, as in ``dedup_cluster_keep``) is
    unchanged;
    the representative pick adds ONE map-side-combinable
    ``min_by(id, struct(-quality, id))`` aggregation over the labeled
    table plus a broadcast-size join of the per-cluster winners — no
    window over the corpus. (min_by + negated quality rather than
    max_by + negated id, so STRING ids — production urls — order
    naturally in the tie-break; ``quality_col`` must be numeric.)"""
    labels = dedup_cluster_keep(df, id_col=id_col, text_col=text_col,
                                n=n, jaccard_threshold=jaccard_threshold,
                                checkpoint_dir=checkpoint_dir,
                                pairs=pairs) \
        .select("doc_id", "cluster_id")
    q = df.select(F.col(id_col).alias("doc_id"),
                  F.col(quality_col).alias("_q"))
    member = labels.join(q, "doc_id")
    best = member.groupBy("cluster_id").agg(
        F.expr("min_by(doc_id, struct(-_q, doc_id))").alias("_best"))
    return (member.join(best, "cluster_id")
            .select("doc_id", "cluster_id",
                    (F.col("doc_id") == F.col("_best")).alias("keep")))


def simhash_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, sim_hi, sim_lo) 64-bit signatures stored as two 32-bit
    halves (see the SimHash section of ``functions/text.py`` for the bit
    derivation and why two halves beat one packed int64 cross-engine).

    Shape: explode distinct tokens -> md5 -> 64 per-bit set-count sums +
    token count in ONE hash aggregate keyed on doc_id (map-side partial
    agg collapses a doc's tokens before the 65-long-wide shuffle), then an
    exact integer vote comparison packs the bits. Token-less docs (which
    the explode drops) re-enter with the canonical all-zero signature via
    a narrow union — no join, no extra shuffle."""
    from .text import simhash_bit_sum, simhash_pack, token_digest_halves

    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(ws_tokens(clean_text(F.col(text_col)))).alias("toks"))
    tok = base.select("doc_id", F.explode("toks").alias("t"))
    h1, h2 = token_digest_halves(F.col("t"))
    halves = tok.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    v = halves.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[simhash_bit_sum(F.col("h1"), j).alias(f"b{j}") for j in range(32)],
        *[simhash_bit_sum(F.col("h2"), j).alias(f"c{j}") for j in range(32)],
    )
    sigs = v.select(
        "doc_id",
        simhash_pack([F.col(f"b{j}") for j in range(32)], F.col("n"))
        .alias("sim_hi"),
        simhash_pack([F.col(f"c{j}") for j in range(32)], F.col("n"))
        .alias("sim_lo"),
    )
    empty = base.filter(F.size("toks") == 0).select(
        "doc_id",
        F.lit(0).cast("long").alias("sim_hi"),
        F.lit(0).cast("long").alias("sim_lo"),
    )
    return sigs.unionByName(empty)


def simhash_blocks(st: DataFrame) -> DataFrame:
    """Signature table -> (doc_id, sim_hi, sim_lo, block, block_val) with
    4 x 16-bit pigeonhole blocks (Manku et al. layout).

    16-bit blocks give 65,536 join keys per block index (vs 256 for byte
    blocks) — the difference between bounded buckets and a quadratic
    bucket self-join at 10^9+ docs. Accepts any table carrying
    (sim_hi, sim_lo) — per-doc or distinct-signature — and passes its
    other columns through."""
    return st.select(
        "*",
        F.posexplode(F.array(
            F.shiftrightunsigned(F.col("sim_hi"), 16),
            F.col("sim_hi").bitwiseAND(F.lit(65535)),
            F.shiftrightunsigned(F.col("sim_lo"), 16),
            F.col("sim_lo").bitwiseAND(F.lit(65535)),
        )).alias("block", "block_val"),
    )


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       max_bucket: int | None = 100_000) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash within ``max_hamming`` bits.

    Pigeonhole blocking: any two signatures within Hamming distance 3
    agree on >= 1 of the 4 16-bit blocks, so the self-join key is
    (block_index, block_value) — linear-ish candidate generation, then an
    exact popcount filter via bit ops on the two halves.

    ``max_bucket`` caps bucket occupancy BEFORE the self-join: a
    pathological bucket of B identical-signature docs costs B^2 candidate
    rows, so a boilerplate page duplicated 10^8 times would otherwise
    detonate the join. Dropping over-full buckets loses recall only among
    docs that near-collide with >max_bucket others — at that multiplicity
    they're exact-dedup territory (run ``exact_duplicates`` first)."""
    st = simhash_table(df, id_col, text_col).persist()
    # Manku-style signature dedup BEFORE blocking: block and self-join on
    # DISTINCT signatures, not docs. A boilerplate-heavy web corpus has
    # far fewer distinct signatures than docs (5000 docs -> 3866 sigs
    # even in the synthetic corpus; orders of magnitude at web scale), and
    # a group of G identical-sig docs would otherwise contribute G^2
    # candidate rows PER SHARED BLOCK to the join before the Hamming
    # filter. After the sig-level join, doc pairs come back via two
    # uniform joins on the signature columns:
    #   * same-sig groups -> all intra-group pairs at hamming 0;
    #   * near sig pairs (0 < hamming <= k) -> cross-product of the two
    #     groups, ordered by doc id.
    # Both are output-sized — exactly the rows the contract returns.
    sigs = st.select("sim_hi", "sim_lo").distinct()
    blocks = simhash_blocks(sigs)
    if max_bucket is not None:
        # aggregate + broadcast anti-join (see util.drop_overcap_keys):
        # the over-full block is dropped map-side, never co-located.
        blocks = drop_overcap_keys(blocks, ["block", "block_val"],
                                   max_bucket)
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = (F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))
               + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo"))))
    # Hamming-filter BEFORE the distinct (popcount is a cheap codegen row
    # op; distinct is a shuffle), and give the unordered sig pair a
    # canonical orientation so the distinct dedups block multiplicity.
    sig_pairs = (
        a.join(b, ["block", "block_val"])
        .filter((F.col("a.sim_hi") < F.col("b.sim_hi"))
                | ((F.col("a.sim_hi") == F.col("b.sim_hi"))
                   & (F.col("a.sim_lo") < F.col("b.sim_lo"))))
        .select(F.col("a.sim_hi").alias("hi_a"), F.col("a.sim_lo").alias("lo_a"),
                F.col("b.sim_hi").alias("hi_b"), F.col("b.sim_lo").alias("lo_b"),
                hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # Intra-group pairs: identical signature == hamming 0.
    g1, g2 = st.alias("g1"), st.alias("g2")
    same = (
        g1.join(g2, ["sim_hi", "sim_lo"])
        .filter(F.col("g1.doc_id") < F.col("g2.doc_id"))
        .select(F.col("g1.doc_id").alias("doc_a"),
                F.col("g2.doc_id").alias("doc_b"),
                F.lit(0).alias("hamming"))
    )
    # Cross-group pairs: expand each near sig pair to its doc pairs.
    da = st.select(F.col("sim_hi").alias("hi_a"), F.col("sim_lo").alias("lo_a"),
                   F.col("doc_id").alias("id_a"))
    db = st.select(F.col("sim_hi").alias("hi_b"), F.col("sim_lo").alias("lo_b"),
                   F.col("doc_id").alias("id_b"))
    cross = (
        sig_pairs.join(da, ["hi_a", "lo_a"]).join(db, ["hi_b", "lo_b"])
        .select(F.least("id_a", "id_b").alias("doc_a"),
                F.greatest("id_a", "id_b").alias("doc_b"),
                "hamming")
    )
    return same.unionByName(cross)


def lsh_tuning_table(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     configs: tuple = ((8, 1), (4, 2), (2, 4))) -> DataFrame:
    """Banding-parameter cost table (X94): for each (bands,
    rows_per_band) over the same 8 min-hashes, the CANDIDATE-JOIN cost
    — collision pairs Σ k(k−1)/2 over bucket occupancies (with
    multiplicity across bands: that IS the join's row count), bucket
    census, and the hottest bucket. Together with the recall diagnostic
    (minhash_recall_sample) this is the two-sided S-curve evidence an
    operator reads before fixing (b, r) for a corpus: r=1 floods the
    join with weak pairs, r=4 starves recall; the cost side here needs
    NO pair enumeration — everything derives from map-side-combinable
    (band, sig) occupancy counts.

    Scale shape: per config, one groupBy over (band, sig) (bounded by
    n_docs·bands rows pre-combine, collapsing map-side) + one global
    aggregate; never a self-join."""
    outs = []
    for bands, r in configs:
        bt = minhash_bands(df, id_col, text_col,
                           bands=bands, rows_per_band=r)
        census = bt.groupBy("band", "sig").agg(
            F.count(F.lit(1)).alias("k"))
        outs.append(census.agg(
            F.sum(F.expr("(k * (k - 1)) div 2")).alias("collision_pairs"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("k").alias("max_bucket"))
            .filter(F.col("n_buckets") > 0)  # empty corpus -> no report
            .select(F.lit(bands).alias("bands"),
                    F.lit(r).alias("rows_per_band"),
                    F.coalesce("collision_pairs", F.lit(0).cast("long"))
                    .cast("long").alias("collision_pairs"),
                    F.col("n_buckets").cast("long").alias("n_buckets"),
                    F.coalesce("max_bucket", F.lit(0).cast("long"))
                    .cast("long").alias("max_bucket")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
