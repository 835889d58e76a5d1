"""The traced job: the workload's job once more, with each public call in
its own span and Spark job group.

Each layer's input is persisted and counted before its span opens, so a
span is close to that layer's self time. Spans and counters stay in
memory and go into the run's JSON record at the end.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from engine import dir_bytes
from jobs import AS_OF, STATUSES, check, usable_sample
from reference import JACCARD
from stats import (
    Span, candidate_precision, input_bytes_per_corpus_byte, median, self_time,
)


class Tracer:
    def __init__(self, counters, run_id: str):
        self.counters = counters
        self.run_id = run_id
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        """One layer call under the traced job's root span."""
        with self.counters.group(name) as st:
            s = Span(name, time.perf_counter(), 0.0, "job", self.run_id, st)
            try:
                yield st
            finally:
                s.end = time.perf_counter()
        self.spans.append(s)

    def total(self, prefix: str, key: str = "s") -> float:
        """Sum of a span field (``s`` = duration) over spans named
        ``prefix`` or below it."""
        spans = [s for s in self.spans
                 if s.name == prefix or s.name.startswith(prefix + ".")]
        if key == "s":
            return sum(s.duration for s in spans)
        return sum(s.counters.get(key, 0) for s in spans)

    def as_records(self, root: Span) -> list:
        spans = [root] + self.spans
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": s.run_id,
                 "self_s": self_time(s, spans), "counters": s.counters}
                for s in spans]


def _counted(df):
    df = df.persist()
    return df, df.count()


def _bucket_seconds(out: str, started_epoch: float) -> list:
    """Per-bucket commit durations from the manifest commit stamps."""
    mdir = os.path.join(out, "_manifest")
    stamps = []
    for n in sorted(os.listdir(mdir)):
        if n.endswith(".json"):
            with open(os.path.join(mdir, n)) as fh:
                stamps.append(json.load(fh)["committed_at"])
    stamps.sort()
    prev, out_s = started_epoch, []
    for t in stamps:
        out_s.append(t - prev)
        prev = t
    return out_s


def _traced_crawl(spark, wl, tr: Tracer, out: str) -> dict:
    from ocr_automation_system_spark.operators.adapters import (
        build_entities, checksum_consistency_check, duplicate_id_check,
    )
    from ocr_automation_system_spark.operators.extract import extract_documents
    from ocr_automation_system_spark.operators.report import entity_report
    from ocr_automation_system_spark.operators.rules import run_rules
    from ocr_automation_system_spark.plans.resume import (
        read_extractions, run_resumable_extraction,
    )
    from ocr_automation_system_spark.sources.catalog import write_results

    m = {}
    docs = spark.read.parquet(wl.corpus)
    with tr.span("operators.extract") as st:
        rows_out = extract_documents(docs).count()
    m.update({"extract.s": tr.total("operators.extract"),
              "extract.rows_in": wl.docs, "extract.rows_out": rows_out,
              "extract.tasks": st["tasks"],
              "extract.executor_run_s": st["executor_run_ms"] / 1e3,
              "extract.shuffle_write_bytes": st["shuffle_write_bytes"]})

    buckets = wl.spec["buckets"]
    epoch = time.time()
    with tr.span("plans.resume") as st:
        run_resumable_extraction(spark, docs, out, n_buckets=buckets)
    per_bucket = _bucket_seconds(out, epoch)
    corpus_bytes = os.path.getsize(wl.corpus)
    m.update({"resume.s": tr.total("plans.resume"), "resume.buckets": buckets,
              "resume.bucket_s.p50": median(per_bucket),
              "resume.bucket_s.max": max(per_bucket),
              "resume.overhead_s": tr.total("plans.resume") - m["extract.s"],
              "resume.input_bytes_per_corpus_byte": input_bytes_per_corpus_byte(
                  st["input_bytes"], corpus_bytes)["value"],
              "resume.corpus_bytes": corpus_bytes,
              "resume.shuffle_write_bytes": st["shuffle_write_bytes"],
              "resume.jobs": st["jobs"]})

    with tr.span("sources.read"):
        results, _ = _counted(read_extractions(spark, out))
    with tr.span("adapters.entities"):
        entities, n_entities = _counted(build_entities(results))
    with tr.span("operators.rules"):
        validation, n_rules = _counted(run_rules(entities, as_of=AS_OF))
    status = dict(validation.groupBy("status").count().collect())
    with tr.span("sources.write"):
        write_results(validation, os.path.join(out, "validation_results"))
    with tr.span("operators.report"):
        report, n_report = _counted(entity_report(validation, generated_at=AS_OF))
    with tr.span("sources.write"):
        write_results(report, os.path.join(out, "entity_reports"))
    with tr.span("adapters.duplicate_ids"):
        dups, _ = _counted(duplicate_id_check(results))
    with tr.span("sources.write"):
        write_results(dups, os.path.join(out, "duplicate_ids"))
    with tr.span("adapters.checksum"):
        checks, _ = _counted(checksum_consistency_check(results))
    with tr.span("sources.write"):
        write_results(checks, os.path.join(out, "checksum_checks"))
    for df in (results, entities, validation, report, dups, checks):
        df.unpersist()

    m.update({"adapters.entities.s": tr.total("adapters.entities"),
              "adapters.entities.rows": n_entities,
              "adapters.duplicate_ids.s": tr.total("adapters.duplicate_ids"),
              "adapters.checksum.s": tr.total("adapters.checksum"),
              "adapters.shuffle_write_bytes": tr.total(
                  "adapters", "shuffle_write_bytes"),
              "rules.s": tr.total("operators.rules"), "rules.rows": n_rules,
              "report.s": tr.total("operators.report"), "report.rows": n_report})
    for s in STATUSES:
        m[f"rules.status.{s}"] = status.get(s, 0)
    return m


def _traced_near(spark, wl, tr: Tracer, out: str) -> dict:
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.dedup import (
        dedup_cluster_keep, dedup_exact, lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )
    from ocr_automation_system_spark.sources.catalog import write_results

    with tr.span("sources.read"):
        docs, _ = _counted(usable_sample(spark, wl.commit, wl.urls))
    with tr.span("functions.dedup.exact"):
        exact, n_exact = _counted(dedup_exact(docs, id_col="doc_id",
                                              text_col="text"))
    with tr.span("functions.dedup.cluster_keep"):
        near, _ = _counted(dedup_cluster_keep(
            exact, id_col="doc_id", text_col="text",
            checkpoint_dir=os.path.join(out, "_checkpoints")))
    with tr.span("sources.write"):
        write_results(near, os.path.join(out, "clusters"))
    # pair counts come from the package's own candidate and verify
    # operators, outside every span
    n_kept = near.filter(F.col("keep")).count()
    n_cand = lsh_candidate_pairs(exact, id_col="doc_id", text_col="text").count()
    n_ver = ngram_jaccard_pairs(exact, id_col="doc_id", text_col="text",
                                threshold=JACCARD).count()
    check(n_cand == wl.ref["lsh_candidates"],
          f"LSH candidates {n_cand} != reference {wl.ref['lsh_candidates']}")
    check(n_ver == wl.ref["verified_pairs"],
          f"verified pairs {n_ver} != reference {wl.ref['verified_pairs']}")
    for df in (docs, exact, near):
        df.unpersist()
    return {"dedup.exact.s": tr.total("functions.dedup.exact"),
            "dedup.exact.kept": n_exact,
            "dedup.cluster_keep.s": tr.total("functions.dedup.cluster_keep"),
            "dedup.lsh_candidates": n_cand, "dedup.verified_pairs": n_ver,
            "dedup.candidate_precision": candidate_precision(n_ver, n_cand)["value"],
            "dedup.near_kept": n_kept,
            "dedup.shuffle_write_bytes": tr.total(
                "functions.dedup", "shuffle_write_bytes")}


def traced_job(spark, wl, counters, out: str, run_id: str) -> dict:
    """Run the workload's job traced; return its metrics, spans and the
    text identity of its output."""
    tr = Tracer(counters, run_id)
    job = Span("job", time.perf_counter(), 0.0, None, run_id)
    if wl.spec["kind"] == "crawl":
        m = _traced_crawl(spark, wl, tr, out)
    else:
        m = _traced_near(spark, wl, tr, out)
    job.end = time.perf_counter()
    identity = wl.verify(out, wl.expected)
    if wl.spec["kind"] == "crawl":
        check(m["extract.rows_out"] == m["extract.rows_in"],
              f"extract rows_out {m['extract.rows_out']} != rows_in "
              f"{m['extract.rows_in']}")
    out_bytes, files = dir_bytes(out)
    m.update({"sources.read_s": tr.total("sources.read"),
              "sources.write_s": tr.total("sources.write"),
              "sources.output_bytes": out_bytes, "sources.files_written": files})
    spark_keys = ("jobs", "stages", "tasks", "failed_tasks", "input_bytes",
                  "shuffle_write_bytes", "output_bytes")
    for k in spark_keys:
        m[f"spark.{k}"] = sum(s.counters.get(k, 0) for s in tr.spans)
    m["spark.executor_run_s"] = sum(
        s.counters.get("executor_run_ms", 0) for s in tr.spans) / 1e3
    m["spark.gc_s"] = sum(s.counters.get("gc_ms", 0) for s in tr.spans) / 1e3
    return {"metrics": m, "job_s": job.duration, "identity": identity,
            "spans": tr.as_records(job)}
