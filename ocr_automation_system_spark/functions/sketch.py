"""Deterministic cardinality / membership sketches for corpus accounting.

At 10^12 documents the questions "how many distinct pages does this host
have?" and "how full is the dedup filter we ship to the next crawl?" can't
be answered with exact distinct counts per host per day — the sketches
below are the standard answers, rebuilt so that every bit is a pure
function of md5, which makes them (a) mergeable across partitions, days
and engines, and (b) exactly reproducible by a DuckDB twin (no engine
hash functions, no RNG).

**HyperLogLog** (Flajolet et al. 2007): register index = the first
``2^p``-range of the item's md5; rank = leading-zero count of the next 60
bits + 1. The per-(group, register) max-rank table IS the sketch — it
merges by ``max`` under any partitioning, re-aggregation or union of
corpus snapshots, which is exactly how a 1000-executor job maintains a
per-host census across daily crawls: keep the register table bucketed by
group, merge new days in with a map-side ``max``. The raw estimator
``alpha_m * m^2 / sum(2^-r_j)`` is computed with a fixed fold order so
Spark and DuckDB agree bit-for-bit; the small/large-range corrections
(which need ``ln``) are deliberately OUTSIDE the cross-engine contract —
apply them driver-side on the returned doubles if needed.

**Bloom filter census**: k=4 bit positions per item, each a 16-bit slice
of md5 mod m. The production artifact is the per-partition bitmap merged
by OR (Spark's own ``bloom_filter_agg`` or a 512-byte BinaryType column
folded with ``bit_or``); the contract surface here is the census form —
distinct bit positions set per group, fill fraction, and the standard
``fill^k`` false-positive estimate (integer exponent -> repeated
multiplication, no ``pow``-accuracy dependence). An incremental-dedup
pass against yesterday's crawl is then: broadcast yesterday's bitmap,
keep rows with any unset bit (guaranteed-new), exact-check the rest.

No reference counterpart (the reference processes O(10^2) local PDFs,
``/root/reference/project/main.py``); this tier exists for the web-scale
corpus the engine targets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: HLL precision: p=8 -> m=256 registers; tail = 60 bits (15 hex chars),
#: so ranks lie in [1, 61].
HLL_P_HEX = 2
HLL_M = 256
HLL_TAIL_HEX = 15
#: alpha_256 * m^2, written as the literal arithmetic both engines run.
#: 0.7213 / (1 + 1.079/m) is Flajolet's bias constant for m >= 128.

#: Bloom geometry: m bits, k 16-bit md5 slices.
BLOOM_M = 4096
BLOOM_K = 4

#: leading-zero-bit count WITHIN the first nonzero hex digit.
_NIBBLE_LZ = {("8", "9", "a", "b", "c", "d", "e", "f"): 0,
              ("4", "5", "6", "7"): 1,
              ("2", "3"): 2,
              ("1",): 3}


def _hll_rank() -> Column:
    """1 + number of leading zero bits of the 60-bit ``_hll_tail`` column
    (61 if zero).

    Pure string arithmetic — ``trim(LEADING '0')`` + a hex-digit CASE on
    the first surviving digit — because ``conv``-to-integer would need 64
    bits and a transcendental-free log2; identical logic in the twin."""
    stripped = F.expr("trim(LEADING '0' FROM _hll_tail)")
    first = F.substring(stripped, 1, 1)
    cases = F.when(F.length(stripped) == 0, F.lit(4 * HLL_TAIL_HEX + 1))
    for digits, lz in _NIBBLE_LZ.items():
        cases = cases.when(first.isin(*digits),
                           4 * (HLL_TAIL_HEX - F.length(stripped)) + lz + 1)
    return cases


def hll_register_table(df: DataFrame, group_col: str = "source",
                       item: Column | None = None) -> DataFrame:
    """The mergeable sketch: (group, register j, max rank r, n items).

    One map-side-combined shuffle on (group, j) — at most ``m`` rows per
    group survive, whatever the corpus size. ``item`` defaults to the
    cleaned-content identity ``md5(coalesce(text, ''))``."""
    h = item if item is not None else F.md5(F.coalesce("text", F.lit("")))
    reg = (df
           .withColumn("_hll_h", h)
           .withColumn("_hll_j",
                       F.conv(F.substring("_hll_h", 1, HLL_P_HEX), 16, 10)
                       .cast("long"))
           .withColumn("_hll_tail",
                       F.substring("_hll_h", HLL_P_HEX + 1, HLL_TAIL_HEX))
           .withColumn("_hll_r", _hll_rank()))
    return (reg.groupBy(F.col(group_col).alias("grp"),
                        F.col("_hll_j").alias("j"))
            .agg(F.max("_hll_r").alias("r"),
                 F.count(F.lit(1)).alias("c")))


def hll_cardinality(df: DataFrame, group_col: str = "source",
                    item: Column | None = None,
                    with_exact: bool = True) -> DataFrame:
    """Per-group HLL estimate: (group, n_items, n_registers, est_raw
    [, exact_distinct]).

    The register fold is ordered by j (sort_array over <= m structs per
    group) so the double sum is a deterministic value sequence — bit-exact
    vs the twin under any partitioning. Every addend is an exact power of
    two (``pow(2, -r)`` is exact for integer r), and the alpha constant is
    spelled as the same literal arithmetic on both engines. ``with_exact``
    adds the true distinct count (an extra shuffle) for error reporting —
    turn it off at scale, the sketch is the point."""
    regs = hll_register_table(df, group_col, item)
    folded = (
        regs.groupBy("grp")
        .agg(F.sum("c").alias("n_items"),
             F.count(F.lit(1)).alias("n_registers"),
             F.aggregate(
                 F.sort_array(F.collect_list(F.struct("j", "r"))),
                 F.lit(0.0),
                 lambda acc, x: acc + F.pow(F.lit(2.0), -x["r"]))
             .alias("_s")))
    alpha_m2 = ((0.7213 / (1.0 + 1.079 / float(HLL_M)))
                * float(HLL_M) * float(HLL_M))
    out = folded.select(
        F.col("grp").alias(group_col),
        F.col("n_items").cast("long").alias("n_items"),
        F.col("n_registers").cast("long").alias("n_registers"),
        (F.lit(alpha_m2)
         / (F.col("_s")
            + (F.lit(HLL_M) - F.col("n_registers")).cast("double")))
        .alias("est_raw"))
    if not with_exact:
        return out
    h = item if item is not None else F.md5(F.coalesce("text", F.lit("")))
    exact = (df.select(F.col(group_col), h.alias("_h"))
             .groupBy(group_col)
             .agg(F.count_distinct("_h").alias("exact_distinct")))
    return out.join(F.broadcast(exact), group_col, "left")


def bloom_positions(item: Column) -> Column:
    """k bit positions for an item: disjoint 16-bit md5 slices mod m."""
    h = F.md5(item)
    return F.array(*[
        F.pmod(F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10).cast("long"),
               F.lit(BLOOM_M))
        for i in range(BLOOM_K)])


def bloom_census(df: DataFrame, group_col: str = "source",
                 item: Column | None = None) -> DataFrame:
    """Per-group Bloom occupancy: (group, n_items, bits_set, fill_frac,
    fp_rate_est).

    Census form of the filter: explode the k positions, count distinct
    bits per group (one shuffle; <= m rows per group survive the partial
    aggregate). ``fp_rate_est = fill^k`` by repeated multiplication.
    Production artifact shape (bitmap folded with bit_or, broadcast to
    the next crawl's dedup pass) is documented in the module docstring."""
    it = item if item is not None else F.coalesce("text", F.lit(""))
    pos = (df.select(F.col(group_col).alias("grp"),
                     F.explode(bloom_positions(it)).alias("bit")))
    per_item = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_items"))
    bits = pos.groupBy("grp").agg(
        F.count_distinct("bit").alias("bits_set"))
    fill = F.col("bits_set").cast("double") / F.lit(float(BLOOM_M))
    fp = fill
    for _ in range(BLOOM_K - 1):
        fp = fp * fill
    return (bits.join(F.broadcast(per_item), "grp")
            .select(F.col("grp").alias(group_col),
                    F.col("n_items").cast("long").alias("n_items"),
                    F.col("bits_set").cast("long").alias("bits_set"),
                    fill.alias("fill_frac"),
                    fp.alias("fp_rate_est")))


#: Count-min geometry: d rows of w buckets; row j's bucket is md5 hex
#: chars [4j+1, 4j+4] (16 bits) mod w. Like the HLL registers, every
#: counter is a pure function of md5 — mergeable by SUM across
#: partitions/days/engines and exactly reproducible in SQL.
CMS_W = 256
CMS_D = 4


def cms_bucket(item: Column, row: int) -> Column:
    """Row ``row``'s bucket id for ``item`` (16-bit md5 slice mod w)."""
    return F.pmod(
        F.conv(F.substring(F.md5(item), row * 4 + 1, 4), 16, 10)
        .cast("long"), F.lit(CMS_W))


def cms_table(df: DataFrame, item_col: str) -> DataFrame:
    """The sketch itself: (row, bucket, n) counters over the item stream.
    ONE map-side-combined groupBy with a key space of d*w (1,024) — each
    partition collapses to at most that many rows before the shuffle, no
    matter how many items flow through. Counters merge by SUM, so daily
    sketches union + re-group into the running sketch."""
    item = F.col(item_col)
    rows = df.select(F.posexplode(F.array(*[
        cms_bucket(item, r) for r in range(CMS_D)])).alias("row", "bucket"))
    return rows.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("n"))


def cms_estimates(df: DataFrame, item_col: str) -> DataFrame:
    """Heavy-hitter readout: every distinct item's count-min estimate
    (min over the d row counters) next to its exact count — the standard
    one-sided-error contract (estimate >= exact always; equality unless
    the item collided in all d rows). The join against the 1,024-row
    sketch is broadcast-sized by construction."""
    sketch = cms_table(df, item_col)
    item = F.col(item_col)
    exact = df.groupBy(item.alias("item")).agg(
        F.count(F.lit(1)).alias("exact_n"))
    probes = exact.select(
        "item", "exact_n",
        F.posexplode(F.array(*[
            cms_bucket(F.col("item"), r) for r in range(CMS_D)]))
        .alias("row", "bucket"))
    return (probes.join(F.broadcast(sketch), ["row", "bucket"])
            .groupBy("item", "exact_n")
            .agg(F.min("n").alias("cms_n")))


def merge_hll_registers(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union-merge two HLL register tables (the op that makes the
    sketch a sketch): per (group, register) the rank is the max of
    maxes and the item count adds, so
    ``merge(regs(A), regs(B)) == regs(A ∪ B)`` identically for
    disjoint inputs — daily crawl sketches fold into the running one
    without re-touching any corpus. One map-side-combined groupBy over
    the tiny (group, j) key space (<= m rows per group per side)."""
    return (a.unionByName(b)
            .groupBy("grp", "j")
            .agg(F.max("r").alias("r"),
                 F.sum("c").cast("long").alias("c")))


def merge_cms_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union-merge two count-min sketches: counters SUM, so
    ``merge(cms(A), cms(B)) == cms(A ∪ B)`` identically — the third leg
    of the mergeable-sketch maintenance trio (postings / HLL / CMS).
    One groupBy over the fixed d·w (1,024) key space."""
    return (a.unionByName(b)
            .groupBy("row", "bucket")
            .agg(F.sum("n").cast("long").alias("n")))


def minhash_sig_table(df: DataFrame, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Per-group MinHash signature as a long-form artifact
    (grp, i, m): hash i's min over every shingle of every doc in the
    group — the group-level resemblance sketch kept per host/source
    across crawls (host-to-host Jaccard estimates without re-reading
    either corpus). Same 8 universal-hash permutations as the doc-level
    LSH tier (text.MINHASH_A/C over md5 base hashes mod P).

    ONE map-side-combined groupBy over the (group, 8) key space; groups
    with zero shingles are absent (the empty sketch). Mergeable by MIN:
    ``merge(sig(A), sig(B)) == sig(A ∪ B)`` identically."""
    from . import text as T

    hm = df.select(
        F.col(group_col).alias("grp"),
        F.explode(T.shingle_hashes(text_col, 3))
        .alias("h0"))
    h = F.pmod(F.col("h0"), F.lit(T.MINHASH_P))
    rows = hm.select("grp", F.posexplode(F.array(*[
        F.pmod(F.lit(T.MINHASH_A[i]) * h + F.lit(T.MINHASH_C[i]),
               F.lit(T.MINHASH_P))
        for i in range(8)])).alias("i", "m"))
    return (rows.groupBy("grp", "i")
            .agg(F.min("m").alias("m"))
            .select("grp", F.col("i").cast("int").alias("i"),
                    F.col("m").cast("long").alias("m")))


def merge_minhash_sigs(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union-merge two MinHash signature tables: per (group, hash) the
    min of mins — MIN is the signature's merge algebra (idempotent and
    associative, so re-merging a day twice is harmless, unlike the CMS
    SUM). One groupBy over the tiny (group, 8) key space."""
    return (a.unionByName(b)
            .groupBy("grp", "i")
            .agg(F.min("m").alias("m"))
            .select("grp", "i", F.col("m").cast("long").alias("m")))


def bloom_bit_table(df: DataFrame, group_col: str = "source",
                    item: Column | None = None) -> DataFrame:
    """Per-group Bloom filter as a set-of-set-bits artifact (grp, bit)
    — the row form of the bitmap shipped to the next crawl's dedup
    pass (``bloom_census`` is its occupancy readout). Distinct is the
    filter's OR: each partition's partial hash-distinct collapses to
    <= m rows per group before the shuffle. Mergeable by set union:
    ``merge(bits(A), bits(B)) == bits(A ∪ B)`` identically."""
    it = item if item is not None else F.coalesce("text", F.lit(""))
    return (df.select(F.col(group_col).alias("grp"),
                      F.explode(bloom_positions(it)).alias("bit"))
            .distinct())


def merge_bloom_bits(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union-merge two Bloom bit tables: set union (the bitmap OR) —
    idempotent like the MinHash MIN, so replayed inputs never corrupt
    the filter. One distinct over the bounded (group, m) key space."""
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# HDR-style length histogram (mergeable quantile sketch)
# ---------------------------------------------------------------------------

#: Sub-buckets per binary octave. Quantile readout error is bounded by
#: one sub-bucket width: relative error <= 1/HIST_SUBS of the value.
HIST_SUBS = 8


def hist_buckets(df: DataFrame, value: Column) -> DataFrame:
    """Append (octave, sub, bucket_lo) HDR-histogram bucket columns for
    a non-negative long value — EXACT integer arithmetic end to end:
    octave = binary digit count (via the base-2 string render, no float
    log2 whose boundary rounding differs per libm), base = the octave's
    lower power of two, sub indexes HIST_SUBS equal slices of the
    octave, bucket_lo = base + (sub·base) div HIST_SUBS. bucket_lo is a
    pure function of (octave, sub) and monotone non-decreasing in that
    key order — the property the quantile readout's min() relies on.
    Value 0 gets the dedicated (0, 0, 0) bucket."""
    s = HIST_SUBS
    out = (df.withColumn("_hv", value.cast("long"))
           .withColumn("octave",
                       F.when(F.col("_hv") > 0,
                              F.length(F.conv(F.col("_hv").cast("string"),
                                              10, 2)))
                       .otherwise(0).cast("int"))
           .withColumn("_hbase",
                       F.expr("CASE WHEN octave > 0 THEN "
                              "shiftleft(CAST(1 AS BIGINT), octave - 1) "
                              "ELSE CAST(1 AS BIGINT) END"))
           .withColumn("sub",
                       F.expr(f"CASE WHEN _hv > 0 THEN "
                              f"((_hv - _hbase) * {s}) div _hbase "
                              f"ELSE 0 END").cast("int"))
           .withColumn("bucket_lo",
                       F.expr(f"CASE WHEN _hv > 0 THEN "
                              f"_hbase + (sub * _hbase) div {s} "
                              f"ELSE CAST(0 AS BIGINT) END")))
    return out.drop("_hv", "_hbase")


def doclen_histogram(df: DataFrame, text_col: str = "text",
                     group_col: str | None = None) -> DataFrame:
    """The mergeable length-quantile artifact: (octave, sub, bucket_lo,
    n) over character lengths — optionally per ``group_col`` (the
    per-source form the drift monitor consumes). One map-side-combined
    groupBy over a key space bounded by 64·HIST_SUBS buckets per group
    regardless of corpus size — and counts merge by SUM across
    partitions, days and engines (the CMS/HLL discipline), so daily
    crawls fold into the running histogram without re-touching any
    corpus."""
    b = hist_buckets(df, F.length(F.coalesce(F.col(text_col), F.lit(""))))
    keys = ([group_col] if group_col else []) + ["octave", "sub",
                                                 "bucket_lo"]
    return b.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def shard_range_bounds(hist: DataFrame, n_shards: int) -> list:
    """X183 — deterministic range-partition split points from the
    bounded histogram artifact: bound_j = min bucket_lo whose
    cumulative count reaches rank ceil(j·total/S), j = 1..S-1 (the
    integer-rank rule the quantile readout uses). Spark's built-in
    RangePartitioner derives bounds by RESERVOIR SAMPLING — a rerun,
    resume, or different partitioning samples differently and writes a
    different layout; these bounds are a pure function of the
    SUM-mergeable histogram, so daily crawls update them incrementally
    and every rerun lays files out identically. Driver-side work is a
    bounded collect (<= 64·HIST_SUBS rows), never a corpus pass when
    the artifact already exists."""
    rows = (hist.groupBy("octave", "sub", "bucket_lo")
            .agg(F.sum("n").alias("n"))
            .orderBy("octave", "sub").collect())
    total = sum(r["n"] for r in rows)
    if total == 0 or n_shards <= 1:
        return []
    bounds, cum, j = [], 0, 1
    it = iter(rows)
    r = next(it, None)
    while r is not None and j < n_shards:
        cum += r["n"]
        rank = -(-j * total // n_shards)      # ceil without floats
        while j < n_shards and cum >= rank:
            bounds.append(int(r["bucket_lo"]))
            j += 1
            rank = -(-j * total // n_shards)
        r = next(it, None)
    return bounds


def assign_range_shard(value: Column, bounds: list) -> Column:
    """Shard id = how many split points are <= value — one codegen
    array filter over S-1 literals, zero shuffle, zero Python; feed it
    to write-time ``partitionBy`` (or ``repartition(n, shard)``) for a
    reproducible globally-range-clustered layout."""
    if not bounds:
        return F.lit(0).cast("int")
    arr = F.lit([int(b) for b in bounds]).cast("array<long>")
    v = value.cast("long")
    return F.size(F.filter(arr, lambda b: b <= v)).cast("int")


def shard_range_plan(df: DataFrame, value: Column,
                     n_shards: int) -> DataFrame:
    """The range-layout audit: per shard, (n_docs, min_v, max_v) under
    the histogram-derived bounds — the skew a scheduler would see.
    Balance is bounded by bucket granularity (one sub-bucket can't be
    split, so a shard is off by at most the mass of one bucket — 1/8
    relative width); the audit makes that residual skew measurable
    instead of assumed."""
    hist = (hist_buckets(df.select(value.alias("_v")), F.col("_v"))
            .groupBy("octave", "sub", "bucket_lo")
            .agg(F.count(F.lit(1)).alias("n")))
    bounds = shard_range_bounds(hist, n_shards)
    v = value.cast("long")
    return (df.select(assign_range_shard(v, bounds).alias("shard"),
                      v.alias("_v"))
            .groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min("_v").cast("long").alias("min_v"),
                 F.max("_v").cast("long").alias("max_v")))


def histogram_drift_chi2(ha: DataFrame, hb: DataFrame,
                         group_col: str = "source") -> DataFrame:
    """Distribution-drift monitor between two crawl snapshots' per-group
    length histograms: chi-square distance
    ``Σ_buckets (p_a − p_b)² / (p_a + p_b)`` with p = bucket share —
    the population-stability check run before trusting that a new crawl
    resembles the corpus the filters were tuned on (PSI's ln() is
    deliberately avoided: the rational χ² form keeps every float op a
    correctly-rounded division/multiply, bit-identical cross-engine).

    Determinism: bucket terms fold in (octave, sub) order via one
    bounded sort_array + aggregate per group (≤ 64·HIST_SUBS elements
    — histogram-sized, never corpus-sized); each p is ONE division of
    exact integers; an empty side contributes p = 0. Scale shape: one
    full-outer join of two bounded artifacts keyed on
    (group, octave, sub) + one groupBy(group) — never a corpus pass."""
    def _side(h: DataFrame, out: str) -> DataFrame:
        return h.select(F.col(group_col).alias("g"), "octave", "sub",
                        F.col("n").alias(out))

    zero = F.lit(0).cast("long")
    j = (_side(ha, "n_a").join(_side(hb, "n_b"),
                               ["g", "octave", "sub"], "full_outer")
         .select("g", "octave", "sub",
                 F.coalesce("n_a", zero).alias("n_a"),
                 F.coalesce("n_b", zero).alias("n_b")))
    per = j.groupBy("g").agg(
        F.sum("n_a").alias("total_a"),
        F.sum("n_b").alias("total_b"),
        F.sort_array(F.collect_list(
            F.struct("octave", "sub", "n_a", "n_b"))).alias("_bk"))

    def _p(n: Column, total: Column) -> Column:
        return F.when(total > 0, n.cast("double") / total.cast("double")) \
            .otherwise(F.lit(0.0))

    def _term(x: Column) -> Column:
        pa = _p(x["n_a"], F.col("total_a"))
        pb = _p(x["n_b"], F.col("total_b"))
        return ((pa - pb) * (pa - pb)) / (pa + pb)

    chi2 = F.aggregate("_bk", F.lit(0.0),
                       lambda acc, x: acc + _term(x))
    return per.select(F.col("g").alias(group_col),
                      "total_a", "total_b",
                      F.size("_bk").cast("long").alias("n_buckets"),
                      chi2.alias("chi2"))


def merge_histograms(a: DataFrame, b: DataFrame) -> DataFrame:
    """SUM-merge two histogram artifacts: merge(h(A), h(B)) == h(A ∪ B)
    exactly (counts add over any disjoint row split). Bounded key
    space -> one tiny map-side-combined groupBy."""
    return (a.unionByName(b)
            .groupBy("octave", "sub", "bucket_lo")
            .agg(F.sum("n").alias("n")))


def histogram_quantiles(hist: DataFrame,
                        pcts: tuple = (50, 90, 99)) -> DataFrame:
    """Quantile readout from the histogram artifact: for each integer
    percentile p, the bucket_lo of the first bucket (in (octave, sub)
    order) whose cumulative count reaches ceil(p% of total) — ALL
    integer arithmetic (100·cum >= p·total), no float rank. Relative
    error is bounded by one sub-bucket: <= 1/HIST_SUBS of the true
    value. The window runs over the BOUNDED histogram (<= 64·HIST_SUBS
    rows), never the corpus; empty input -> empty readout."""
    from pyspark.sql.window import Window

    w = (Window.orderBy("octave", "sub")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = hist.select(
        "octave", "sub", "bucket_lo",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding,
                Window.unboundedFollowing)).alias("total"))
    p = hist.sparkSession.createDataFrame(
        [(int(x),) for x in pcts], "q_pct int")
    return (cum.crossJoin(F.broadcast(p))
            .filter(F.col("cum") * 100 >= F.col("q_pct") * F.col("total"))
            .groupBy("q_pct")
            .agg(F.min("bucket_lo").alias("value"))
            .orderBy("q_pct"))


# ---------------------------------------------------------------------------
# Content-checksum attestation
# ---------------------------------------------------------------------------

def source_checksums(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     group_col: str = "source") -> DataFrame:
    """Order-independent content attestation per group: (group, n_docs,
    sum_h, xor_h) over the 60-bit md5 fold of each row's
    ``id:content-hash`` string — the checksum-consistency surface that
    lets two runs / two engines / two snapshot shards certify "same
    rows" WITHOUT comparing rows: equal triples ⇔ (w.h.p.) equal row
    sets, and the checksums MERGE across shards (counts and sums add,
    xor xors — all order- and partition-independent folds).

    Exactness: h < 2^60 so the xor stays in long; the sum accumulates
    as DECIMAL(38,0) (exact to ~10^26 rows — no wraparound ambiguity)
    and ships as its decimal-digit STRING, because DuckDB's pandas
    bridge lowers DECIMAL columns to float64 and would corrupt the
    attestation digits. One map-side-combined groupBy; zero corpus
    shuffle beyond it."""
    h = F.conv(F.substring(F.md5(F.concat(
        F.col(id_col).cast("string"), F.lit(":"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))))), 1, 15),
        16, 10).cast("long")
    return (df.groupBy(F.col(group_col).alias(group_col))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(h.cast("decimal(38,0)")).cast("string")
                 .alias("sum_h"),
                 F.bit_xor(h).alias("xor_h")))


def host_mirror_pairs(df: DataFrame, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Mirror-site detection at HOST granularity: banded LSH over the
    per-group MinHash signatures (X74's mergeable artifact) — two hosts
    serving near-identical corpora collide on a signature component and
    surface as (host_a, host_b, n_eq, est_jaccard) with est = equal
    components / 8 (the standard unbiased resemblance estimate). This
    is the host-level complement of the doc-level near-dup ladder: a
    mirror farm is ONE decision, not a million pairwise doc decisions.

    Scale shape: signatures are a bounded (group, 8) artifact; banding
    here is r=1, b=8 (aggressive recall — candidates are cheap at host
    cardinality, and est_jaccard is the verify stage); the self-join
    keys on (component index, value) so only colliding hosts ever pair.
    Everything downstream of the signature build touches host-count
    rows, never the corpus."""
    sigs = minhash_sig_table(df, group_col, text_col)
    a = sigs.select(F.col("grp").alias("host_a"), "i",
                    F.col("m").alias("m_a"))
    b = sigs.select(F.col("grp").alias("host_b"), "i",
                    F.col("m").alias("m_b"))
    cand = (a.join(b, (a["i"] == b["i"]) & (a["m_a"] == b["m_b"])
                   & (a["host_a"] < b["host_b"]))
            .select("host_a", "host_b").distinct())
    sa = sigs.select(F.col("grp").alias("host_a"), "i",
                     F.col("m").alias("_ma"))
    sb = sigs.select(F.col("grp").alias("host_b"), "i",
                     F.col("m").alias("_mb"))
    return (cand.join(sa, "host_a").join(sb, ["host_b", "i"])
            .groupBy("host_a", "host_b")
            .agg(F.sum(F.when(F.col("_ma") == F.col("_mb"), 1)
                       .otherwise(0)).cast("long").alias("n_eq"))
            .withColumn("est_jaccard",
                        F.col("n_eq").cast("double") / F.lit(8.0)))


#: KMV sketch size: k smallest 52-bit hash fractions per group.
KMV_K = 64


def _kmv_u(h: Column) -> Column:
    """52-bit hash fraction in (0, 1]: exact dyadic rational, the same
    md5-slice convention as the priority-sample key."""
    v = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
    return (v + F.lit(1)).cast("double") / F.lit(float(2 ** 52))


def kmv_sketch(df: DataFrame, group_col: str = "source",
               item: Column | None = None, k: int = KMV_K) -> DataFrame:
    """K-minimum-values sketch (Bar-Yossef et al. 2002): per group the
    ``k`` smallest md5 values of the item set, as rows (grp, h). The
    piece HLL is missing: two KMV sketches support INTERSECTION
    estimates (``kmv_overlap``) — "how many pages do crawls A and B
    share" — because the k smallest of a union are computable from the
    halves' k smallest, and membership of those in each half is
    testable. Mergeable by union + re-cap, exactly like the postings
    heads (`index.merge_token_postings`' cap argument is the same
    lemma).

    Scale: the rank-filter compiles to WindowGroupLimit, so each map
    task holds at most k hashes per group BEFORE the shuffle — the
    postings-head pattern, not a full-window buffer. Groups with fewer
    than k distinct items keep everything (the sketch is then exact and
    the estimators below switch to exact counts)."""
    h = item if item is not None else F.md5(F.coalesce("text", F.lit("")))
    d = (df.select(F.col(group_col).alias("grp"), h.alias("h"))
         .distinct())
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    return (d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def kmv_overlap(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Set-overlap estimates from two ``kmv_sketch`` tables: per group
    (n_a, n_b in sketch, union_est, jaccard_est, intersection_est).

    Method (Beyer et al. 2007): L = the k smallest of sketch(A) ∪
    sketch(B) (a valid KMV of A ∪ B); union_est = (|L|−1)/u_max(L)
    when the union sketch is full, else the exact |L|;
    jaccard_est = |{h ∈ L : h ∈ A-sketch ∧ h ∈ B-sketch}| / |L|;
    intersection_est = jaccard_est · union_est. Every float is an
    exact dyadic u, one division, one multiply — correctly rounded,
    bit-identical cross-engine.

    Scale: the sketches are ≤k rows per group — dimension tables; the
    whole estimator is two aggregate joins on (grp, h) and one final
    projection."""
    sa = a.select("grp", "h").withColumn("_in_a", F.lit(1))
    sb = b.select("grp", "h").withColumn("_in_b", F.lit(1))
    both = (sa.select("grp", "h").unionByName(sb.select("grp", "h"))
            .distinct())
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    l = (both.withColumn("_rn", F.row_number().over(w))
         .filter(F.col("_rn") <= k))
    flagged = (l.join(sa, ["grp", "h"], "left")
               .join(sb, ["grp", "h"], "left"))
    agg = (flagged.groupBy("grp")
           .agg(F.count(F.lit(1)).alias("l_size"),
                F.sum(F.when(F.col("_in_a").isNotNull()
                             & F.col("_in_b").isNotNull(), 1)
                      .otherwise(0)).alias("shared_in_l"),
                F.max_by(_kmv_u(F.col("h")), F.col("_rn")).alias("_uk"),
                F.sum(F.coalesce("_in_a", F.lit(0))).alias("n_a"),
                F.sum(F.coalesce("_in_b", F.lit(0))).alias("n_b")))
    full = F.col("l_size") >= k
    union_est = F.when(
        full, (F.col("l_size") - 1).cast("double") / F.col("_uk")
    ).otherwise(F.col("l_size").cast("double"))
    jac = (F.col("shared_in_l").cast("double")
           / F.col("l_size").cast("double"))
    return agg.select(
        F.col("grp"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("l_size").cast("long").alias("l_size"),
        union_est.alias("union_est"),
        jac.alias("jaccard_est"),
        (jac * union_est).alias("intersection_est"))


def merge_kmv_sketches(a: DataFrame, b: DataFrame,
                       k: int = KMV_K) -> DataFrame:
    """Fold one KMV sketch into another WITHOUT re-touching any corpus:
    union the hash rows, drop duplicates (the same content can appear
    in both crawls), keep the k smallest per group. Exactly mergeable —
    the k smallest of A ∪ B all lie in (k-smallest of A) ∪ (k-smallest
    of B), the same lemma as the postings-head merge — so
    merge(kmv(A), kmv(B)) == kmv(A ∪ B) identically; the `kmv_merge`
    contract query pins that identity against the full-corpus oracle.
    One WindowGroupLimit over ≤2k rows per group."""
    both = (a.select("grp", "h").unionByName(b.select("grp", "h"))
            .distinct())
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    return (both.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))
