"""Resumable partitioned extraction: a checkpoint manifest per url-hash bucket.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference has no resume story (a rerun is a full
recompute — SURVEY.md §2.10); this module adds it the way a 10^12-row batch
job needs it:

* The corpus is split into ``n_buckets`` deterministic url-hash buckets
  (``pmod(xxhash64(url), n)``, Iceberg's ``bucket(N, url)``) — the unit of
  commit and of retry; locally a ``bucket=<b>`` parquet subdirectory.
* One call commits one wave: every pending bucket, or the first
  ``max_buckets`` of them. The wave is scanned, extracted and written once
  (``partitionBy("bucket")`` into ``_staging/``); then each bucket is
  renamed into ``extractions/`` and its manifest written — the atomic point.
* A manifest holds the bucket's ``n_rows``, doc status and leg counts,
  blocks kept/dropped, missing-field hits (observed on the commit write
  itself: no re-read, no extra Spark job) and its commit time.
* A bucket with a manifest is never recomputed, so a killed job resumes by
  running only the missing buckets; a failure costs at most one wave.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import EXTRACTION_SCHEMA, extract_documents

MANIFEST_DIR = "_manifest"

#: Manifest counters as SQL aggregates over one bucket's rows (``{b}`` is
#: the bucket predicate), observed on the commit write. Every row feeds every
#: bucket's aggregates, so callers with many buckets bound waves by
#: ``max_buckets`` (scripts/spark_submit_job.py commits 64 at a time).
_COUNTERS = {
    "n_rows": "count_if({b})",
    "docs_ok": "count_if({b} AND doc_status = 'ok')",
    "docs_unusable": "count_if({b} AND doc_status = 'unusable')",
    "docs_poison": "count_if({b} AND doc_status = 'poison')",
    "docs_pdf_leg": "count_if({b} AND source_leg = 'pdf')",
    "docs_ocr_leg": "count_if({b} AND source_leg = 'ocr')",
    "blocks_kept": "coalesce(sum(IF({b}, blocks_kept, 0)), 0)",
    "blocks_dropped": "coalesce(sum(IF({b}, blocks_dropped, 0)), 0)",
    "missing_field_hits": "coalesce(sum(IF({b}, size(missing_fields), 0)), 0)",
}


def bucket_expr(url_col: str = "url", n_buckets: int = 16):
    """Deterministic commit-unit assignment (Iceberg ``bucket(N, url)``
    analogue)."""
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")


def _bucket_counters(b: int):
    fields = ", ".join(f"'{name}', {agg.format(b=f'bucket = {b}')}"
                       for name, agg in _COUNTERS.items())
    return F.expr(f"named_struct({fields}) AS b{b}")


def _manifest_path(output_dir: str, bucket: int) -> str:
    return os.path.join(output_dir, MANIFEST_DIR, f"bucket_{bucket:05d}.json")


def committed_buckets(output_dir: str, n_buckets: int) -> set[int]:
    return {
        b for b in range(n_buckets)
        if os.path.exists(_manifest_path(output_dir, b))
    }


def run_resumable_extraction(
    spark: SparkSession,
    documents: DataFrame,
    output_dir: str,
    n_buckets: int = 16,
    max_buckets: int | None = None,
) -> dict:
    """Extract ``documents`` into ``output_dir/extractions/bucket=<b>/``,
    committing one wave of pending buckets (at most ``max_buckets``) with a
    manifest each. Returns {"ran": wave, "skipped": committed buckets}."""
    done = committed_buckets(output_dir, n_buckets)
    wave = [b for b in range(n_buckets) if b not in done][:max_buckets]
    status = {"ran": wave, "skipped": sorted(done)}
    if not wave:
        return status
    if len(wave) < n_buckets:
        documents = documents.filter(bucket_expr("url", n_buckets).isin(wave))

    counters = Observation("resume")
    results = (extract_documents(documents)
               .withColumn("bucket", bucket_expr("url", n_buckets))
               .observe(counters, *[_bucket_counters(b) for b in wave]))
    # Stage OUTSIDE the partition-discovery root: a dotted sibling such as
    # `extractions/bucket=N.inprogress` would still be discovered as a bogus
    # partition value after a kill mid-write.
    staging = os.path.join(output_dir, "_staging")
    shutil.rmtree(staging, ignore_errors=True)
    results.write.partitionBy("bucket").parquet(staging)
    observed = counters.get

    os.makedirs(os.path.join(output_dir, MANIFEST_DIR), exist_ok=True)
    os.makedirs(os.path.join(output_dir, "extractions"), exist_ok=True)
    for b in wave:
        dest = os.path.join(output_dir, "extractions", f"bucket={b}")
        shutil.rmtree(dest, ignore_errors=True)  # stale from a killed run
        src = os.path.join(staging, f"bucket={b}")
        os.makedirs(src, exist_ok=True)  # an empty bucket writes no files
        os.rename(src, dest)
        mp = _manifest_path(output_dir, b)
        with open(mp + ".tmp", "w") as fh:
            json.dump({"bucket": b, **observed[f"b{b}"].asDict(),
                       "committed_at": time.time()}, fh, indent=1)
        os.rename(mp + ".tmp", mp)  # manifest commit = the atomic point
    shutil.rmtree(staging)
    return status


def read_extractions(spark: SparkSession, output_dir: str) -> DataFrame:
    """All committed buckets, read with the known schema (no inference job;
    an all-empty commit reads as 0 rows) and without the ``bucket``
    partition column, so the schema matches a direct ``extract_documents``."""
    return (spark.read.schema(EXTRACTION_SCHEMA)
            .parquet(os.path.join(output_dir, "extractions"))
            .drop("bucket"))


def lineage_summary(output_dir: str, n_buckets: int) -> dict:
    """Aggregate manifest view: per-bucket rows + total (job-audit
    surface; the per-bucket counters stay in each manifest)."""
    out = {"buckets": {}, "total_rows": 0}
    for b in committed_buckets(output_dir, n_buckets):
        with open(_manifest_path(output_dir, b)) as fh:
            m = json.load(fh)
        out["buckets"][b] = m["n_rows"]
        out["total_rows"] += m["n_rows"]
    return out
