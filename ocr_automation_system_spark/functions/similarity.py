"""Similarity search over an embedding column (``array<float>``).

Two tiers:

* **Brute-force cosine top-k** — the exactness baseline: ``cosine``
  against a broadcast query vector; the scan stays narrow; top-k is a
  single ``orderBy().limit()`` (Spark's TakeOrdered — no full sort at
  scale). The registry's ``embedding_topk`` queries compose it.
* **LSH-bucketed ANN** — ``sign_bucket`` on the leading dimensions
  (axis-aligned random-hyperplane LSH with deterministic planes, so the
  DuckDB oracle can replicate it) or ``plane_bucket_vec`` over seeded
  random planes: candidates are only same-bucket rows, so
  the search cost per query is the bucket size, not the corpus size. At
  10^12 rows the bucket table is the ANN index — write it once, hash-
  partitioned by bucket, and every query is a partition-pruned lookup.

All arithmetic is elementwise over ``double`` (cast from float32 first) with
left-to-right aggregation order, making results bit-identical between Spark
and DuckDB's ``list_*`` kernels.

Execution note: the dense per-row math (dot products against plane sets and
query vectors) runs in Arrow-vectorized pandas UDFs over numpy — the
sanctioned fast path for embedding columns. Catalyst column expressions are
kept for the tiny cases (``sign_bucket``'s 8 leading sign bits) but NOT for
the O(n_bits x dim) folds: higher-order lambdas are CodegenFallback
(interpreted per element), benched ~20x slower than one Arrow batch + numpy
pass at 2k x 64-dim x 32 planes. Left-to-right FP accumulation is preserved
in numpy via ``cumsum`` (strict prefix sums), so bucket signs and cosine
values stay bit-identical to the SQL oracle's ``a1 + a2 + ...`` chains.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


def _mat(series: pd.Series, dim: int) -> np.ndarray:
    """pandas Series of float vectors -> (n, dim) float64 matrix.

    Mirrors the column-expression contract exactly: elements are cast
    float->double; missing dims (short vectors) and NULL elements
    contribute 0.0 to every product (the ``coalesce(x*y, 0.0)`` twin);
    extra dims beyond ``dim`` are ignored (the plane literal is the
    shorter zip_with side)."""
    out = np.zeros((len(series), dim), dtype=np.float64)
    for i, v in enumerate(series):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        k = min(dim, a.shape[0])
        out[i, :k] = a[:k]
    return np.nan_to_num(out, copy=False, nan=0.0)


def _leftassoc_rowsum(prods: np.ndarray) -> np.ndarray:
    """Per-row left-associative sum: cumsum computes strict prefix sums,
    so the accumulation order (and therefore every rounding step) matches
    ``F.aggregate(_, 0.0, acc + x)`` and the SQL ``a1 + a2 + ...`` chain."""
    if prods.shape[1] == 0:
        return np.zeros(prods.shape[0], dtype=np.float64)
    return prods.cumsum(axis=1)[:, -1]


def _leftassoc_dot(a: np.ndarray, q: np.ndarray) -> np.ndarray:
    return _leftassoc_rowsum(a * q[None, :])


def _row_norms(series: pd.Series) -> np.ndarray:
    """l2 norm per row over the FULL vector (not truncated to any plane
    dim) — twin of ``l2_norm``'s fold over transform(v, x*x)."""
    out = np.zeros(len(series), dtype=np.float64)
    for i, v in enumerate(series):
        if v is None:
            continue
        a = np.nan_to_num(np.asarray(v, dtype=np.float64), nan=0.0)
        out[i] = np.sqrt((a * a).cumsum()[-1]) if a.size else 0.0
    return out


def all_plane_buckets(vec: Column,
                      plane_sets: list[list[list[float]]]) -> Column:
    """array<long> of per-table random-hyperplane bucket ids, one Arrow
    pass for ALL tables (bit i of table t = sign of <vec, planes[t][i]>).
    Materialize via select/withColumn before filtering on elements so the
    UDF evaluates once per row."""
    sets = [np.asarray(ps, dtype=np.float64) for ps in plane_sets]

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(v: pd.Series) -> pd.Series:
        out = np.zeros((len(v), len(sets)), dtype=np.int64)
        for t, planes in enumerate(sets):
            n_bits, dim = planes.shape
            m = _mat(v, dim)
            acc = np.zeros(len(v), dtype=np.int64)
            for i in range(n_bits):
                dots = _leftassoc_dot(m, planes[i])
                acc += np.where(dots > 0, np.int64(1 << (n_bits - 1 - i)),
                                np.int64(0))
            out[:, t] = acc
        return pd.Series(list(out))

    return _buckets(vec)


def plane_bucket_vec(vec: Column, planes: list[list[float]]) -> Column:
    """Single-table random-hyperplane bucket id (vectorized). Semantics ==
    ``plane_bucket`` (kept below as the expression twin for tests)."""
    return F.element_at(all_plane_buckets(vec, [planes]), 1)


def cosine_vs_query(vec: Column, query_vec: list[float]) -> Column:
    """cosine(vec, q) for a fixed query vector, Arrow-vectorized. Matches
    ``cosine``'s FP steps exactly: double cast, left-assoc dot over the
    query's dims, full-vector norms, ``norm(vec) * norm(q)`` denominator
    order, 0.0 for zero denominators."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qq = (q * q).cumsum()[-1] if q.size else 0.0
    nq = np.sqrt(qq)

    @F.pandas_udf("double")
    def _cos(v: pd.Series) -> pd.Series:
        m = _mat(v, q.shape[0])
        dots = _leftassoc_dot(m, q)
        denom = _row_norms(v) * nq
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom > 0, dots / denom, 0.0)
        return pd.Series(out)

    return _cos(vec)


def cosine_pair(vec_a: Column, vec_b: Column) -> Column:
    """cosine(vec_a, vec_b) for two vector columns (near-dup verification
    path), Arrow-vectorized with the same FP contract as ``cosine``."""

    @F.pandas_udf("double")
    def _cos2(va: pd.Series, vb: pd.Series) -> pd.Series:
        dim = 0
        for v in va:
            if v is not None:
                dim = max(dim, len(v))
        for v in vb:
            if v is not None:
                dim = max(dim, len(v))
        ma, mb = _mat(va, dim), _mat(vb, dim)
        dots = _leftassoc_rowsum(ma * mb)
        denom = _row_norms(va) * _row_norms(vb)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom > 0, dots / denom, 0.0)
        return pd.Series(out)

    return _cos2(vec_a, vec_b)


def _np_cosine_to(series: pd.Series, c: np.ndarray) -> np.ndarray:
    """Per-row cosine against one fixed vector with the module's exact FP
    contract (cumsum dots, full-vector norms, denom-order norm(v)*norm(c),
    0.0 on zero denominators)."""
    cc = (c * c).cumsum()[-1] if c.size else 0.0
    nc = np.sqrt(cc)
    m = _mat(series, c.shape[0])
    dots = _leftassoc_dot(m, c)
    denom = _row_norms(series) * nc
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, dots / denom, 0.0)


def np_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side scalar twin of ``cosine_vs_query`` (same cumsum FP
    order) — used to rank IVF probe cells for a query vector so the
    driver's choice is bit-consistent with the distributed assignment."""
    aa = np.asarray([float(x) for x in a], dtype=np.float64)
    bb = np.asarray([float(x) for x in b], dtype=np.float64)
    k = min(aa.size, bb.size)
    dot = (aa[:k] * bb[:k]).cumsum()[-1] if k else 0.0
    na = np.sqrt((aa * aa).cumsum()[-1]) if aa.size else 0.0
    nb = np.sqrt((bb * bb).cumsum()[-1]) if bb.size else 0.0
    denom = na * nb
    return float(dot / denom) if denom > 0 else 0.0


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """IVF coarse quantizer: cell id = argmax over centroids of
    cosine(vec, centroid), first-max-wins on exact ties (== the SQL twin's
    ORDER BY cos DESC, cid ASC LIMIT 1). Zero vectors score 0.0 against
    every centroid and land in cell 0.

    The sandbox quantizer uses DETERMINISTIC centroids (caller passes
    e.g. the first K corpus vectors) so the DuckDB oracle can replicate
    the assignment bit-for-bit; production swaps in k-means centroids
    trained offline — the assignment plan (one Arrow pass, no shuffle)
    is identical either way."""
    if not centroids:
        raise ValueError("ivf_assign needs at least one centroid")
    cents = [np.asarray([float(x) for x in c], dtype=np.float64)
             for c in centroids]

    @F.pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        n = len(v)
        best = np.zeros(n, dtype=np.int32)
        best_cos = np.full(n, -np.inf)
        for cid, c in enumerate(cents):
            cos = _np_cosine_to(v, c)
            upd = cos > best_cos  # strict: earlier centroid wins ties
            best[upd] = cid
            best_cos[upd] = cos[upd]
        return pd.Series(best)

    return _assign(vec)


def ivf_topk(embeddings: DataFrame, query_vec: list[float],
             centroids: list[list[float]], k: int = 10, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF ANN top-k: score only vectors whose cell is among the query's
    ``nprobe`` nearest centroids.

    One narrow Arrow pass assigns cells; the probe-cell filter is a plain
    IN predicate (partition-prunable when the index table is written
    partitioned by cell — the IVF inverted list); TakeOrdered(k) finishes.
    At 10^9+ vectors the assignment is precomputed once as an index
    column, so a query touches ~nprobe/K of the corpus."""
    order = sorted(range(len(centroids)),
                   key=lambda cid: (-np_cosine(query_vec, centroids[cid]), cid))
    probe = order[:nprobe]
    with_cell = embeddings.withColumn(
        "_cell", ivf_assign(F.col(vec_col), centroids))
    scored = (
        with_cell.filter(F.col("_cell").isin(*probe))
        .select(F.col(id_col).alias("vec_id"),
                F.round(cosine_vs_query(F.col(vec_col), query_vec), 6)
                .alias("cos_sim"))
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(k)


def _d(col: Column) -> Column:
    """array<float> -> array<double> (fix the precision before any math)."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(_d(a), _d(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(_d(a), lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def sign_bucket(vec: Column, n_bits: int = 16) -> Column:
    """LSH bucket id: sign bits of the first ``n_bits`` dimensions packed
    into an int. Axis-aligned hyperplanes — the cheapest oracle-replicable
    bucketing; ``hyperplanes``/``plane_bucket`` below are the seeded
    random-plane variant for corpus scale (also oracle-replicable: the
    planes are deterministic literals). Default 16 bits = 65,536 buckets;
    raise with corpus size (~20 bits at 10^9+ vectors) so per-bucket
    occupancy stays bounded."""
    # try_element_at: a vector shorter than n_bits dims yields NULL (-> bit
    # 0) instead of a task-killing index error; matches the SQL oracle's
    # out-of-range list access returning NULL.
    bits = [
        F.when(F.try_element_at(_d(vec), F.lit(i + 1)) > 0,
               F.lit(2 ** (n_bits - 1 - i)).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(n_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def hyperplanes(n_bits: int, dim: int, seed: int = 0) -> list[list[float]]:
    """Seeded deterministic random hyperplanes (Charikar sign-LSH).

    Gaussian components rounded to 6 decimals so the literal values parse
    to identical doubles in Spark and DuckDB — the random-plane bucketing
    stays fully oracle-replicable."""
    import random

    rng = random.Random(seed)
    return [[round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)]
            for _ in range(n_bits)]


def plane_dot(vec: Column, plane: list[float]) -> Column:
    """<vec, plane> with missing dims contributing 0 (short vectors never
    error — same contract as sign_bucket's try_element_at). Left-to-right
    accumulation, bit-identical to a flat a1+a2+... sum in SQL."""
    lits = F.array(*[F.lit(p) for p in plane])
    prods = F.zip_with(_d(vec), lits,
                       lambda x, y: F.coalesce(x * y, F.lit(0.0)))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def plane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign of <vec, planes[i]>."""
    n_bits = len(planes)
    out = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        out = out + F.when(plane_dot(vec, plane) > 0,
                           F.lit(2 ** (n_bits - 1 - i)).cast("long")) \
                     .otherwise(F.lit(0).cast("long"))
    return out


def _bucket_expr(vec: Column, n_bits: int, planes: list | None) -> Column:
    return plane_bucket_vec(vec, planes) if planes is not None \
        else sign_bucket(vec, n_bits)


def lsh_bucket_table(embeddings: DataFrame, n_bits: int = 16,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     planes: list | None = None) -> DataFrame:
    """The ANN index: (vec_id, bucket). Persist hash-partitioned by bucket."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        _bucket_expr(F.col(vec_col), n_bits, planes).alias("bucket"),
    )


def lsh_bucket_stats(embeddings: DataFrame, n_bits: int = 16,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     planes: list | None = None) -> DataFrame:
    """Bucket occupancy — the skew diagnostic for the ANN index. Feed its
    max(n_vecs) into the ``max_bucket`` cap of ``cosine_near_dup_pairs``
    when tuning for a new corpus."""
    return (
        lsh_bucket_table(embeddings, n_bits, id_col, vec_col, planes)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.min("vec_id").alias("min_vec_id"))
    )


def lsh_topk_multitable(embeddings: DataFrame, query_vec: list[float],
                        k: int = 10, n_tables: int = 4, n_bits: int = 16,
                        seed: int = 0, dim: int | None = None,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Multi-table random-hyperplane ANN top-k (the standard recall fix for
    single-table LSH): T independent plane sets; a vector is a candidate if
    it matches the query's bucket in ANY table.

    Expressed as ONE narrow scan with an OR of per-table bucket equalities
    — no union of T subqueries, no shuffle before the TakeOrdered(k). At
    production scale the T bucket ids are precomputed index columns and
    this predicate partition-prunes per table.

    Sizing: a candidate set is ~T * n / 2^n_bits vectors, so set
    ``n_bits ~ log2(n / target_bucket)`` — the contract query's 8 bits
    suit the 10^2..10^5-row test corpora; a 10^9-vector table wants
    ~20+ bits (and the cosine verify still touches only the matched
    buckets, never all-pairs)."""
    q = [float(x) for x in query_vec]
    d = dim if dim is not None else len(q)
    plane_sets = [hyperplanes(n_bits, d, seed=seed + t) for t in range(n_tables)]
    q_buckets = []
    for planes in plane_sets:
        q_buckets.append(sum(
            2 ** (n_bits - 1 - i)
            for i, plane in enumerate(planes)
            if sum(a * b for a, b in zip(q, plane)) > 0))
    # ONE Arrow pass computes all T bucket ids; materialize the array in a
    # Project so the OR of per-table equalities reads it, not T UDF calls.
    with_b = embeddings.withColumn(
        "_bks", all_plane_buckets(F.col(vec_col), plane_sets))
    pred = None
    for t, qb in enumerate(q_buckets):
        p = F.element_at(F.col("_bks"), t + 1) == F.lit(qb)
        pred = p if pred is None else (pred | p)
    scored = (
        with_b.filter(pred)
        .select(F.col(id_col).alias("vec_id"),
                F.round(cosine_vs_query(F.col(vec_col), q), 6).alias("cos_sim"))
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(k)


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                          n_bits: int = 16, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          planes: list | None = None,
                          max_bucket: int | None = 100_000) -> DataFrame:
    """Embedding near-dup pairs: same-LSH-bucket candidates with cosine >=
    threshold. The self-join shuffles on the bucket key only; the quadratic
    blowup is confined to individual buckets (AQE skew-split if one bucket
    is pathological).

    ``max_bucket`` drops over-occupied buckets BEFORE the self-join (a
    B-row bucket costs B^2 candidates; tune the cap from
    ``lsh_bucket_stats``). ``planes`` switches bucketing to seeded random
    hyperplanes (``hyperplanes``) — the production mode for embeddings
    whose leading dims aren't informative."""
    t = embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("vec"),
                          _bucket_expr(F.col(vec_col), n_bits, planes)
                          .alias("bucket"))
    if max_bucket is not None:
        from .util import drop_overcap_keys

        # aggregate + broadcast anti-join: the hot bucket is dropped
        # map-side without ever being co-located in one task (a Window
        # count would buffer the whole bucket in a single task's window
        # buffer — the exact blowup the cap exists to prevent).
        t = drop_overcap_keys(t, "bucket", max_bucket)
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine_pair(F.col("a.vec"), F.col("b.vec")), 6)
            .alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
