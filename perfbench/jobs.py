"""The jobs each workload submits, built only from the package's public
functions, and the check that turns a wrong output into a failed run."""

from __future__ import annotations

import os

AS_OF = "2026-01-01"
STATUSES = ("PASS", "FAIL", "WARNING", "SKIPPED")


class CheckFailed(RuntimeError):
    """An output differs from its independent expectation."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def crawl_job(spark, corpus: str, out: str, buckets: int) -> None:
    """The production job without ``--curate``
    (``scripts/spark_submit_job.py``): resumable extraction, then every
    validation sink."""
    from ocr_automation_system_spark.operators.adapters import (
        build_entities, checksum_consistency_check, duplicate_id_check,
    )
    from ocr_automation_system_spark.operators.report import entity_report
    from ocr_automation_system_spark.operators.rules import run_rules
    from ocr_automation_system_spark.plans.resume import (
        read_extractions, run_resumable_extraction,
    )
    from ocr_automation_system_spark.sources.catalog import write_results

    run_resumable_extraction(spark, spark.read.parquet(corpus), out,
                             n_buckets=buckets)
    results = read_extractions(spark, out)
    validation = run_rules(build_entities(results), as_of=AS_OF)
    write_results(validation, os.path.join(out, "validation_results"))
    write_results(entity_report(validation, generated_at=AS_OF),
                  os.path.join(out, "entity_reports"))
    write_results(duplicate_id_check(results), os.path.join(out, "duplicate_ids"))
    write_results(checksum_consistency_check(results),
                  os.path.join(out, "checksum_checks"))


def usable_sample(spark, commit: str, urls: list):
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.plans.resume import read_extractions

    return (read_extractions(spark, commit)
            .filter((F.col("doc_status") == "ok") & F.col("url").isin(urls))
            .select(F.col("url").alias("doc_id"),
                    F.col("extracted_text").alias("text")))


def near_job(spark, commit: str, urls: list, out: str) -> None:
    """The curation dedup ladder over committed extractions: exact dedup,
    near-dup cluster keep, then the (doc_id, cluster_id, keep) table."""
    from ocr_automation_system_spark.functions.dedup import (
        dedup_cluster_keep, dedup_exact,
    )
    from ocr_automation_system_spark.sources.catalog import write_results

    exact = dedup_exact(usable_sample(spark, commit, urls),
                        id_col="doc_id", text_col="text")
    near = dedup_cluster_keep(exact, id_col="doc_id", text_col="text",
                              checkpoint_dir=os.path.join(out, "_checkpoints"))
    write_results(near, os.path.join(out, "clusters"))
