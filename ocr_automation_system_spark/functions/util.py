"""Shared plan helpers: split-starvation rebalance + skew-key salting.

Salting (north rule: "salted keys for skewed hosts"): when one join/group
key carries a disproportionate share of rows (a mega-host in a web corpus),
a hash shuffle sends all of it to one reducer. AQE's skew-join splitting
handles the *join* case at runtime (enabled in session.py); the utilities
here are the explicit, plan-level form for when AQE can't apply — skewed
aggregations with high-cardinality accumulators, or non-AQE engines."""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimate the scan's split count from file metadata WITHOUT forcing a
    plan->RDD conversion (``df.rdd`` materializes the RDD lineage on the
    driver per query — the crutch this replaces).

    Returns None (= leave the plan alone) for non-file sources and for
    remote storage paths: a production Iceberg/parquet scan on an object
    store is assumed well-split (it yields >> cores splits by
    maxPartitionBytes), so the rebalance is a no-op there by construction.
    """
    files = df.inputFiles()
    if not files:
        return None
    raw = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes",
                                   "134217728")
    m = re.match(r"(\d+)", str(raw))
    max_bytes = int(m.group(1)) if m else 134217728
    splits = 0
    for f in files:
        if not f.startswith("file:"):
            return None
        path = re.sub(r"^file:(//)?", "", f)
        try:
            size = os.path.getsize(path)
        except OSError:
            return None
        splits += max(1, math.ceil(size / max_bytes))
    return splits


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin rebalance IFF the scan is split-starved.

    CPU-bound row-wise operators (shingling, hashing, extraction UDFs) are
    throttled to the scan's split count; a small parquet file is one
    non-splittable row group, so on local[32] it would run on 1 core. At
    production scale the Iceberg scan yields >> cores splits and this is a
    no-op — the repartition only fires on split-starved local file inputs,
    costing one narrow-input shuffle that the downstream stages amortize
    immediately.
    """
    if df.isStreaming:
        # a streaming source has no inputFiles() and its micro-batch
        # parallelism is the source's own; leave the plan alone
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    est = _estimated_scan_splits(df)
    if est is not None and est < target:
        return df.repartition(target)
    return df


def with_salt(df: DataFrame, n_salt: int = 16, salt_col: str = "_salt") -> DataFrame:
    """Row-varying salt in [0, n_salt): spreads one hot key over n_salt
    reducers. Deterministic within a run (partition id + per-partition
    row id), which is all salting needs — the salt never outlives the
    shuffle it shapes."""
    return df.withColumn(
        salt_col, F.pmod(F.monotonically_increasing_id(), F.lit(n_salt)).cast("int"))


def salted_join(big: DataFrame, small: DataFrame, on: list[str] | str,
                how: str = "inner", n_salt: int = 16) -> DataFrame:
    """Equi-join resilient to skew in ``big``'s key distribution.

    The big (skewed) side gets a row-varying salt; the small side is
    replicated n_salt times via explode, so every (key, salt) bucket pairs
    up. Shuffle key becomes (key, salt) — a hot key now spans n_salt
    reducers instead of one. Cost: |small| * n_salt rows on one side, the
    standard trade. Prefer broadcast when small fits; prefer AQE skew-join
    when it applies; use this when neither does."""
    keys = [on] if isinstance(on, str) else list(on)
    big_s = with_salt(big, n_salt)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    joined = big_s.join(small_s, keys + ["_salt"], how)
    return joined.drop("_salt")


def drop_overcap_keys(df: DataFrame, keys: list[str] | str,
                      max_count: int) -> DataFrame:
    """Drop every row whose key group has more than ``max_count`` rows —
    WITHOUT ever co-locating a group.

    The occupancy caps in the LSH / SimHash / SemDedup candidate generators
    exist to protect the self-join from a pathological hot bucket (a B-row
    bucket costs B^2 candidates). The old shape —
    ``Window.partitionBy(key)`` + ``count().over(w)`` — defeated its own
    purpose at scale: a window must buffer each bucket inside ONE task to
    count it, so the 10^9-row bucket the cap exists to drop was first
    materialized in a single task.

    This shape never concentrates anything:
      1. ``groupBy(key).count()`` — map-side combinable, so the hot key
         arrives at its reducer as a handful of partial counts, not rows;
      2. filter ``count > max_count`` — the over-cap key set is tiny by
         construction (it IS the pathological tail);
      3. broadcast LEFT ANTI join — every input partition drops its own
         over-cap rows locally; the hot bucket's rows die map-side and
         never shuffle at all.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    over = (df.groupBy(*key_list)
            .agg(F.count(F.lit(1)).alias("_kc"))
            .filter(F.col("_kc") > max_count)
            .select(*key_list))
    return df.join(F.broadcast(over), key_list, "left_anti")


def salted_agg(df: DataFrame, group_col: str, aggs: dict[str, Column],
               n_salt: int = 16) -> DataFrame:
    """Two-phase aggregation over a skewed group key: phase 1 groups by
    (key, salt) — the hot key's rows split across n_salt reducers — and
    phase 2 re-combines the tiny per-salt partials. Spark's map-side
    partial aggregation already covers algebraic aggs (count/sum/min/max);
    this helps when per-group state is heavy (collect_list, count_distinct)
    and map-side combine can't shrink it.

    ``aggs``: name -> phase-1 aggregation column; phase 2 re-combines with
    sum() for counts/sums (caller handles non-additive aggs separately)."""
    phase1 = (
        with_salt(df, n_salt)
        .groupBy(group_col, "_salt")
        .agg(*[c.alias(name) for name, c in aggs.items()])
    )
    return phase1.groupBy(group_col).agg(
        *[F.sum(name).alias(name) for name in aggs])


def key_skew_audit(df: DataFrame, keys: dict,
                   n_partitions: int = 32) -> DataFrame:
    """X186 — pre-shuffle skew survey: for each named key expression,
    (n_rows, n_keys, top1/top10 mass, an integer salt-factor hint =
    ceil(top1_count · P / n_rows), i.e. how many ways the hottest key
    must split so its share fits one of P reducer slots). The audit
    that decides, from data, whether a groupBy/join needs ``with_salt``
    / AQE skew handling BEFORE the job hits the straggler — the manual
    counterpart of AQE's runtime detection, runnable on yesterday's
    snapshot to plan today's job.

    Scale shape per key: ONE map-side-combined groupBy(key).count()
    (the thing being audited is cheap to survey because partial
    aggregation absorbs the skew the full job would suffer), then a
    bounded TakeOrdered(10) and a 2-value global fold — no collect of
    the key distribution, so a 10^9-key host column audits fine.
    ``keys`` maps audit name -> Column expression."""
    parts = []
    for name, col in keys.items():
        c = df.groupBy(col.alias("_k")).agg(F.count(F.lit(1)).alias("_n"))
        tot = c.agg(F.sum("_n").alias("n_rows"),
                    F.count(F.lit(1)).alias("n_keys"))
        top = (c.orderBy(F.desc("_n"), F.asc("_k")).limit(10)
               .agg(F.max("_n").alias("_t1"), F.sum("_n").alias("_t10")))
        parts.append(
            tot.crossJoin(top)
            .filter(F.col("n_keys") > 0)
            .select(
                F.lit(name).alias("key_col"),
                F.col("n_rows").cast("long"),
                F.col("n_keys").cast("long"),
                F.col("_t1").cast("long").alias("top1_count"),
                F.round(F.col("_t1").cast("double")
                        / F.col("n_rows").cast("double"), 6)
                .alias("top1_frac"),
                F.round(F.col("_t10").cast("double")
                        / F.col("n_rows").cast("double"), 6)
                .alias("top10_frac"),
                F.expr(f"CAST((_t1 * {n_partitions} + n_rows - 1) "
                       f"div n_rows AS BIGINT)").alias("salt_factor")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
