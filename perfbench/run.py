#!/usr/bin/env python3
"""Benchmark of record for the extraction engine.

    python3 perfbench/run.py --workload crawl_thin --seed 7 --seconds 5 --trace 0

Run from the repository root. Each workload is a closed loop with one
client: one job is submitted, and the next starts only after it ends.
Load comes from this one process on ``local[nproc]``. The run

1. generates its inputs from ``--seed`` into ``.perfbench/cache`` (kept
   out of every timing),
2. sets the session up three times (one cold JVM, two rebuilds after
   ``spark.stop``) and reports the median as ``setup_s``; near_dedup
   commits its input in the first session,
3. runs the workload's untimed warm-up jobs, then timed jobs for
   ``--seconds`` (and at least the workload's minimum count),
4. checks every job's output (byte identity with the in-process oracle on
   a fixed url sample, the DuckDB twin of the relational stages, the
   pure-Python replay of the dedup ladder) and exits non-zero without a
   result on any mismatch,
5. prints one JSON line: end-to-end metrics with ``--trace 0``; with
   ``--trace 1`` one extra job runs with a span around every public call
   and the per-layer metrics are printed instead.

Spans and counters go to ``.perfbench/runs/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

import pandas as pd

import engine
import stats
import tracing
from jobs import STATUSES, CheckFailed, check, crawl_job, near_job
from reference import (
    near_dup_reference, oracle_sample, read_clusters, read_identity_rows,
    sink_contents, twin_expectations, usable_texts,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: name -> sizes. ``rows`` docs are generated at ``scale`` x the default
#: ~1.5 KB page; crawl jobs commit ``buckets`` url-hash buckets;
#: near_dedup dedups ``dedup_docs`` usable texts out of a ``rows``-doc
#: set-up commit; ``sample`` urls are checked against the in-process
#: oracle. ``warmup_jobs`` untimed jobs run first, and at least
#: ``min_jobs`` are timed and ``job_s`` is their median: jobs keep
#: shrinking for several runs after the first while the JVM compiles the
#: planner's hot paths, so one job is no steady figure. A crawl job takes
#: about three dedup jobs, so the crawl workloads time two and near_dedup
#: three, which keeps a run within about a minute.
WORKLOADS = {
    "crawl_thin": {"kind": "crawl", "rows": 1000, "scale": 1, "buckets": 2,
                   "sample": 200, "warmup_jobs": 1, "min_jobs": 2},
    "crawl_fat": {"kind": "crawl", "rows": 160, "scale": 40, "buckets": 2,
                  "sample": 24, "warmup_jobs": 1, "min_jobs": 2},
    "near_dedup": {"kind": "near", "rows": 640, "scale": 1, "buckets": 1,
                   "sample": 200, "dedup_docs": 500, "warmup_jobs": 2,
                   "min_jobs": 3},
}

SETUPS = 3
CACHE_KEEP = 12

E2E = (
    ("job_s", "s"), ("docs_per_s", "docs/s"), ("mb_per_s", "MB/s"),
    ("setup_s", "s"), ("text_identity_rate", "ratio"), ("ok_frac", "ratio"),
    ("worker_rss_mb", "MB"), ("out_bytes_per_in_byte", "ratio"),
)

PER_LAYER = (
    ("session.build_s", "s"), ("session.first_job_s", "s"),
    ("oracle.us_per_doc", "us"), ("oracle.html.us_per_doc", "us"),
    ("oracle.pdf.us_per_doc", "us"), ("oracle.ocr.us_per_doc", "us"),
    ("oracle.us_per_kb", "us/KB"), ("oracle.segment_blocks.us_per_doc", "us"),
    ("oracle.fields.us_per_doc", "us"), ("oracle.docs.ok", "count"),
    ("oracle.docs.unusable", "count"), ("oracle.docs.poison", "count"),
    ("extract.s", "s"), ("extract.rows_in", "count"),
    ("extract.rows_out", "count"), ("extract.tasks", "count"),
    ("extract.executor_run_s", "s"), ("extract.shuffle_write_bytes", "bytes"),
    ("extract.kernel_share", "ratio"), ("extract.kernel_s", "s"),
    ("resume.s", "s"), ("resume.buckets", "count"),
    ("resume.bucket_s.p50", "s"), ("resume.bucket_s.max", "s"),
    ("resume.overhead_s", "s"), ("resume.input_bytes_per_corpus_byte", "ratio"),
    ("resume.corpus_bytes", "bytes"), ("resume.shuffle_write_bytes", "bytes"),
    ("resume.jobs", "count"),
    ("sources.read_s", "s"), ("sources.write_s", "s"),
    ("sources.output_bytes", "bytes"), ("sources.files_written", "count"),
    ("adapters.entities.s", "s"), ("adapters.entities.rows", "count"),
    ("adapters.duplicate_ids.s", "s"), ("adapters.checksum.s", "s"),
    ("adapters.shuffle_write_bytes", "bytes"),
    ("rules.s", "s"), ("rules.rows", "count"),
) + tuple((f"rules.status.{s}", "count") for s in STATUSES) + (
    ("report.s", "s"), ("report.rows", "count"),
    ("dedup.exact.s", "s"), ("dedup.exact.kept", "count"),
    ("dedup.cluster_keep.s", "s"), ("dedup.lsh_candidates", "count"),
    ("dedup.verified_pairs", "count"), ("dedup.candidate_precision", "ratio"),
    ("dedup.near_kept", "count"), ("dedup.shuffle_write_bytes", "bytes"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
    ("spark.input_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.output_bytes", "bytes"), ("spark.executor_run_s", "s"),
    ("spark.gc_s", "s"),
    ("trace.job_s", "s"), ("trace.overhead_s", "s"),
)


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# --- load generation ----------------------------------------------------------

def _evict(directory: str, keep: int = CACHE_KEEP) -> None:
    entries = sorted((os.path.join(directory, n) for n in os.listdir(directory)),
                     key=os.path.getmtime)
    for path in entries[:-keep]:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


def package_hash() -> str:
    h = hashlib.md5()
    pkg = os.path.join(ROOT, "ocr_automation_system_spark")
    for dirpath, dirs, names in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for n in sorted(names):
            if n.endswith((".py", ".dat")):
                full = os.path.join(dirpath, n)
                h.update(os.path.relpath(full, pkg).encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def cached_corpus(seed: int, scale: int, rows: int) -> str:
    from ocr_automation_system_spark.corpus import (
        CORPUS_FINGERPRINT, CORPUS_VERSION, write_corpus,
    )

    cache = os.path.join(WORK, "cache", "corpus")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(
        cache, f"v{CORPUS_VERSION}-{CORPUS_FINGERPRINT}-s{seed}-x{scale}-n{rows}.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        write_corpus(tmp, rows, seed=seed, payload_scale=scale)
        os.replace(tmp, path)
        _evict(cache)
    return path


def cached_commit(spark, corpus: str, seed: int, spec: dict) -> str:
    """The near_dedup input: extractions committed by the code under test,
    keyed on a hash of the package source."""
    from ocr_automation_system_spark.plans.resume import run_resumable_extraction

    cache = os.path.join(WORK, "cache", "commit")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"{package_hash()}-s{seed}-n{spec['rows']}"
                               f"-b{spec['buckets']}")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        run_resumable_extraction(spark, spark.read.parquet(corpus), tmp,
                                 n_buckets=spec["buckets"])
        os.replace(tmp, path)
        _evict(cache)
    return path


def identity_sample(frame, n: int) -> list:
    """The first ``n`` urls by md5(url) that occur once in the corpus, with
    their payloads."""
    counts = frame["url"].value_counts()
    once = frame[frame["url"].map(counts) == 1]
    keyed = sorted(zip(once["url"], once["html"]),
                   key=lambda r: hashlib.md5(r[0].encode()).hexdigest())
    return keyed[:n]


# --- checks -------------------------------------------------------------------

def manifest_rows(out: str) -> int:
    mdir = os.path.join(out, "_manifest")
    total = 0
    for n in os.listdir(mdir):
        if n.endswith(".json"):
            with open(os.path.join(mdir, n)) as fh:
                total += json.load(fh)["n_rows"]
    return total


def check_identity(extractions: str, expected: dict) -> float:
    rate, bad = stats.compare_identity(read_identity_rows(extractions, expected),
                                 expected)
    check(rate == 1.0, f"text identity {rate:.4f}; first mismatches {bad[:3]}")
    return rate


class Workload:
    """One workload's inputs, job and output checks."""

    def __init__(self, spec: dict, seed: int):
        self.spec, self.seed = spec, seed
        self.expect = None

    def generate(self) -> None:
        s = self.spec
        self.corpus = cached_corpus(self.seed, s["scale"], s["rows"])
        self.frame = pd.read_parquet(self.corpus, columns=["url", "html"])
        self.sample = identity_sample(self.frame, s["sample"])

    def prepare(self, spark) -> None:
        if self.spec["kind"] == "crawl":
            self.docs = len(self.frame)
            self.in_bytes = int(self.frame["html"].map(len).sum())
            return
        self.commit = cached_commit(spark, self.corpus, self.seed, self.spec)
        rows = usable_texts(os.path.join(self.commit, "extractions"),
                             self.spec["dedup_docs"])
        check(len(rows) == self.spec["dedup_docs"],
              f"commit holds {len(rows)} usable docs, "
              f"want {self.spec['dedup_docs']}")
        self.urls = sorted(rows)
        self.docs = len(rows)
        self.in_bytes = sum(len(t.encode("utf-8")) for t in rows.values())
        self.ref = near_dup_reference(rows)

    def run(self, spark, out: str) -> None:
        if self.spec["kind"] == "crawl":
            crawl_job(spark, self.corpus, out, self.spec["buckets"])
        else:
            near_job(spark, self.commit, self.urls, out)

    def verify(self, out: str, expected: dict) -> float:
        """Check one job's output; returns the text identity rate."""
        if self.spec["kind"] == "near":
            rate = check_identity(os.path.join(self.commit, "extractions"),
                                  expected)
            got = read_clusters(os.path.join(out, "clusters"))
            check(len(got) == self.ref["exact_kept"],
                  f"exact dedup kept {len(got)}, want {self.ref['exact_kept']}")
            check(sum(k for _, k in got.values()) == self.ref["near_kept"],
                  "near-dup keep count differs from the reference")
            check(got == self.ref["clusters"],
                  "near-dup clusters differ from the reference")
            return rate
        extractions = os.path.join(out, "extractions")
        check(manifest_rows(out) == self.docs,
              f"manifest rows {manifest_rows(out)} != input docs {self.docs}")
        rate = check_identity(extractions, expected)
        if self.expect is None:
            self.expect = twin_expectations(extractions)
            check(self.expect["rows"] == self.docs,
                  f"extraction rows {self.expect['rows']} != {self.docs}")
        got = sink_contents(out)
        for key in ("status", "report_rows", "duplicate_rows",
                    "checksum_rows", "rules"):
            check(got[key] == self.expect[key],
                  f"{key} differs from the DuckDB twin: "
                  f"{_short(got[key])} vs {_short(self.expect[key])}")
        return rate


def _short(v):
    return f"{len(v)} rows" if isinstance(v, list) else v


# --- the run ------------------------------------------------------------------

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_environment()
    spec = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(WORK, "work", run_id)
    os.makedirs(work)
    shape = engine.session_shape(WORK)
    wl = Workload(spec, args.seed)
    record = {"workload": args.workload, "seed": args.seed, "spec": spec,
              "shape": {k: v for k, v in shape.items() if k != "extra_conf"},
              "run_id": run_id}
    spark = None
    try:
        t0 = time.perf_counter()
        wl.generate()
        record["generate_s"] = time.perf_counter() - t0

        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, build_s, first_s = engine.build(shape)
            setups.append({"build_s": build_s, "first_job_s": first_s})
            if i == 0:
                # the near_dedup set-up commit runs in the cold session, so
                # the measured session's Python workers never did its work
                # whether or not the commit was cached
                t0 = time.perf_counter()
                wl.prepare(spark)
                record["prepare_s"] = time.perf_counter() - t0
        record["setups"] = setups
        if spec["kind"] == "near":
            record["reference"] = {k: v for k, v in wl.ref.items()
                                   if k != "clusters"}
        oracle = oracle_sample(wl.sample, detailed=bool(args.trace))
        expected = wl.expected = oracle.pop("expected")
        record["oracle"] = oracle

        counters = engine.EngineCounters(spark, run_id)

        def one_job(tag: str) -> dict:
            out = os.path.join(work, tag)
            with counters.group(tag) as st:
                t = time.perf_counter()
                wl.run(spark, out)
                st["job_s"] = time.perf_counter() - t
            st["out_bytes"] = engine.dir_bytes(out)[0]
            st["identity"] = wl.verify(out, expected)
            st["rss_mb"] = engine.worker_peak_rss_mb()
            shutil.rmtree(out)
            return st

        record["warmup"] = [one_job(f"warmup{i}")
                            for i in range(spec["warmup_jobs"])]
        timed = []
        start = time.perf_counter()
        while (len(timed) < spec["min_jobs"]
               or time.perf_counter() - start < args.seconds):
            timed.append(one_job(f"job{len(timed)}"))
        record["jobs"] = timed

        job_times = [j["job_s"] for j in timed]
        job = stats.timing_readout(job_times)
        record["job_s"] = job
        if args.trace:
            traced = tracing.traced_job(spark, wl, counters,
                                        os.path.join(work, "traced"), run_id)
            metrics = per_layer_metrics(spec, setups[0], oracle, traced,
                                        job["median"], shape["cores"])
            record["traced"] = traced
        else:
            metrics = end_to_end_metrics(wl, setups, timed, job["median"])
        print(f"# {args.workload} seed={args.seed} job_s median="
              f"{job['median']:.4f} n={job['n']}"
              + (f" p{job['tail_pct']}={job['tail_value']:.4f}"
                 if "tail_pct" in job else " (no tail percentile: n <= 10)")
              + " warmup_s=" + ",".join(f"{w['job_s']:.4f}"
                                        for w in record["warmup"]),
              flush=True)
        units = dict(PER_LAYER if args.trace else E2E)
        for k, unit in units.items():
            print(f"# {k} = {metrics[k]:.6g} {unit}")
        result = {
            "correct": True,
            "attempted": len(timed),
            "failed": sum(j["failed_jobs"] for j in timed),
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units},
        }
        record["result"] = result
    except CheckFailed as exc:
        print(f"# CHECK FAILED: {exc}", file=sys.stderr, flush=True)
        return 2
    finally:
        engine.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        runs = os.path.join(WORK, "runs")
        os.makedirs(runs, exist_ok=True)
        with open(os.path.join(
                runs, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
                "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


def end_to_end_metrics(wl: Workload, setups, timed, job_s: float) -> dict:
    tasks = sum(j["tasks"] for j in timed) + len(timed)
    failed = sum(j["failed_tasks"] + j["failed_jobs"] for j in timed)
    return {
        "job_s": job_s,
        "docs_per_s": wl.docs / job_s,
        "mb_per_s": wl.in_bytes / 1e6 / job_s,
        "setup_s": stats.median(s["build_s"] + s["first_job_s"] for s in setups),
        "text_identity_rate": min(j["identity"] for j in timed),
        "ok_frac": 1.0 - failed / tasks,
        "worker_rss_mb": max(j["rss_mb"] for j in timed),
        "out_bytes_per_in_byte": stats.median(
            j["out_bytes"] for j in timed) / wl.in_bytes,
    }


def per_layer_metrics(spec, cold_setup, oracle, traced, untraced_job_s,
                      cores) -> dict:
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.build_s"] = cold_setup["build_s"]
    m["session.first_job_s"] = cold_setup["first_job_s"]
    legs = oracle["legs"]
    m["oracle.us_per_doc"] = oracle["us_per_doc"]
    m["oracle.us_per_kb"] = oracle["us_per_kb"]
    for leg in ("html", "pdf", "ocr"):
        if leg in legs:
            m[f"oracle.{leg}.us_per_doc"] = legs[leg]["us_per_doc"]
    m["oracle.segment_blocks.us_per_doc"] = oracle["segment_us_per_doc"]
    m["oracle.fields.us_per_doc"] = oracle["fields_us_per_doc"]
    for st in ("ok", "unusable", "poison"):
        m[f"oracle.docs.{st}"] = oracle["status"].get(st, 0)
    m.update(traced["metrics"])
    if spec["kind"] == "crawl":
        share = stats.kernel_share(oracle["us_per_doc"], m["extract.rows_in"],
                                   cores, m["extract.s"])
        m["extract.kernel_share"] = share["value"]
        m["extract.kernel_s"] = share["kernel_s"]
    m["trace.job_s"] = traced["job_s"]
    m["trace.overhead_s"] = traced["job_s"] - untraced_job_s
    return m


if __name__ == "__main__":
    sys.exit(main())
