"""Kill/resume semantics for the checkpointed extraction (SURVEY.md §7
step 6): completed buckets are never recomputed, a resumed run converges to
exactly the uninterrupted output, and lineage manifests account for every
row."""

from __future__ import annotations

import json
import os

import pytest

from ocr_automation_system_spark.operators.extract import extract_documents
from ocr_automation_system_spark.plans.resume import (
    committed_buckets, lineage_summary, read_extractions,
    run_resumable_extraction,
)

N_BUCKETS = 8


@pytest.fixture(scope="module")
def docs(spark, corpus_path):
    return spark.read.parquet(corpus_path)


def _sorted_rows(df):
    return sorted(
        (r["url"], r["doc_status"], r["document_type"], r["extracted_text"],
         r["fields_json"]) for r in df.collect()
    )


def test_interrupted_then_resumed_equals_uninterrupted(spark, docs, tmp_path):
    out = str(tmp_path / "run")

    # "Kill" after 3 buckets.
    first = run_resumable_extraction(spark, docs, out, N_BUCKETS, max_buckets=3)
    assert first["ran"] == [0, 1, 2]
    assert committed_buckets(out, N_BUCKETS) == {0, 1, 2}

    manifests = {
        b: os.path.getmtime(os.path.join(out, "_manifest", f"bucket_{b:05d}.json"))
        for b in first["ran"]
    }

    # Resume: only the missing buckets run; committed ones are skipped.
    second = run_resumable_extraction(spark, docs, out, N_BUCKETS)
    assert second["skipped"] == [0, 1, 2]
    assert second["ran"] == [3, 4, 5, 6, 7]
    for b, mtime in manifests.items():
        assert os.path.getmtime(
            os.path.join(out, "_manifest", f"bucket_{b:05d}.json")) == mtime, \
            f"bucket {b} was recomputed"

    # Byte-equal to an uninterrupted single-pass run.
    resumed = read_extractions(spark, out)
    direct = extract_documents(docs)
    assert _sorted_rows(resumed) == _sorted_rows(direct)


def test_lineage_accounts_for_every_row(spark, docs, tmp_path):
    out = str(tmp_path / "run2")
    run_resumable_extraction(spark, docs, out, n_buckets=4)
    summary = lineage_summary(out, 4)
    assert summary["total_rows"] == docs.count()
    assert set(summary["buckets"]) == {0, 1, 2, 3}


def test_leftover_staging_dir_is_invisible(spark, docs, tmp_path):
    """A run killed mid-write leaves its partial output under _staging/,
    which partition discovery over extractions/ can never see — the
    resumed read returns only committed buckets."""
    out = str(tmp_path / "run4")
    run_resumable_extraction(spark, docs, out, n_buckets=4)
    committed = read_extractions(spark, out).count()

    # simulate a killed write: partial parquet parked in _staging
    stale = os.path.join(out, "_staging", "bucket=9")
    os.makedirs(stale)
    docs.limit(5).write.mode("overwrite").parquet(stale)

    again = read_extractions(spark, out)
    assert again.count() == committed
    assert "bucket" not in again.columns


def test_rerun_is_idempotent(spark, docs, tmp_path):
    out = str(tmp_path / "run3")
    run_resumable_extraction(spark, docs, out, n_buckets=4)
    third = run_resumable_extraction(spark, docs, out, n_buckets=4)
    assert third["ran"] == [] and third["skipped"] == [0, 1, 2, 3]
    assert read_extractions(spark, out).count() == docs.count()


def _manifest(out, b):
    return os.path.join(out, "_manifest", f"bucket_{b:05d}.json")


def test_wave_job_count_does_not_grow_with_buckets(spark, docs, tmp_path, jobs_of):
    """A wave is one scan, one extraction and one partitioned write with
    observed manifest counters, whatever the bucket count."""
    jobs = {n: jobs_of(lambda n=n: run_resumable_extraction(
                spark, docs, str(tmp_path / f"b{n}"), n_buckets=n))
            for n in (2, 8)}
    assert jobs[2] == jobs[8] <= 4, jobs


@pytest.fixture(scope="module")
def committed_schema(spark, docs, tmp_path_factory):
    """Schema of a plain read of an ordinary non-empty commit."""
    out = str(tmp_path_factory.mktemp("schema"))
    run_resumable_extraction(spark, docs.limit(20), out, n_buckets=2)
    return spark.read.parquet(os.path.join(out, "extractions")) \
        .drop("bucket").schema


@pytest.mark.parametrize("n_docs", [0, 1])
def test_empty_buckets_commit_and_read_back(spark, docs, tmp_path,
                                            committed_schema, n_docs):
    """A bucket with no rows writes no files, yet commits (an empty
    directory plus its manifest): an empty corpus, or one doc over 4
    buckets, reads back its row count with the ordinary schema."""
    out = str(tmp_path / "run")
    status = run_resumable_extraction(spark, docs.limit(n_docs), out,
                                      n_buckets=4)
    assert status["ran"] == [0, 1, 2, 3]
    assert lineage_summary(out, 4)["total_rows"] == n_docs
    got = read_extractions(spark, out)
    assert got.count() == n_docs
    assert got.schema == committed_schema


def test_renamed_but_uncommitted_bucket_reruns_alone(spark, docs, tmp_path):
    """A kill between a bucket's rename and its manifest write leaves its
    directory without a commit: the rerun recomputes only that bucket,
    leaves the other manifests alone, converges to a direct extraction,
    and every manifest's counters match its committed rows."""
    out = str(tmp_path / "run5")
    run_resumable_extraction(spark, docs, out, n_buckets=4)
    os.remove(_manifest(out, 2))
    assert os.path.isdir(os.path.join(out, "extractions", "bucket=2"))
    kept = {b: os.path.getmtime(_manifest(out, b)) for b in (0, 1, 3)}

    again = run_resumable_extraction(spark, docs, out, n_buckets=4)
    assert again == {"ran": [2], "skipped": [0, 1, 3]}
    assert {b: os.path.getmtime(_manifest(out, b)) for b in kept} == kept
    assert _sorted_rows(read_extractions(spark, out)) == \
        _sorted_rows(extract_documents(docs))

    for b in range(4):
        with open(_manifest(out, b)) as fh:
            m = json.load(fh)
        rows = spark.read.parquet(
            os.path.join(out, "extractions", f"bucket={b}")).toPandas()
        assert m["n_rows"] == len(rows)
        for s in ("ok", "unusable", "poison"):
            assert m[f"docs_{s}"] == (rows["doc_status"] == s).sum()
        for leg in ("pdf", "ocr"):
            assert m[f"docs_{leg}_leg"] == (rows["source_leg"] == leg).sum()
        assert m["blocks_kept"] == rows["blocks_kept"].sum()
        assert m["blocks_dropped"] == rows["blocks_dropped"].sum()
        assert m["missing_field_hits"] == rows["missing_fields"].map(len).sum()


def test_cc_resumes_from_committed_rounds(spark, tmp_path):
    """An interrupted distributed connected-components ladder resumes from
    its durable per-round parquet commits: the rerun reuses every committed
    round (files untouched) and still converges to the union-find answer."""
    from ocr_automation_system_spark.functions import dedup as D

    # a 30-node chain needs ~log2(30) pointer-doubling rounds, so
    # max_iter=2 dies mid-ladder with rounds committed
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100, 101)], ["doc_a", "doc_b"])
    ckpt = str(tmp_path / "ck")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, collect_threshold=0, max_iter=2,
                               checkpoint_dir=ckpt)
    cc_dirs = [d for d in os.listdir(ckpt) if d.startswith("cc-")]
    assert len(cc_dirs) == 1  # fingerprint-keyed subdir
    cc_dir = os.path.join(ckpt, cc_dirs[0])
    committed = sorted(os.listdir(cc_dir))
    assert "edges" in committed and "round_00002" in committed
    mtimes = {d: os.path.getmtime(os.path.join(cc_dir, d)) for d in committed}

    resumed = D.connected_components(pairs, collect_threshold=0,
                                     checkpoint_dir=ckpt)
    got = {r["node"]: r["cluster_id"] for r in resumed.collect()}
    want = {r["node"]: r["cluster_id"]
            for r in D.connected_components(pairs).collect()}  # driver path
    assert got == want
    assert all(v == 0 for k, v in got.items() if k <= 30)
    for d, t in mtimes.items():  # committed rounds were reused, not rebuilt
        assert os.path.getmtime(os.path.join(cc_dir, d)) == t, d


def test_cc_checkpoint_overwrites_inprogress_leftover(spark, tmp_path):
    """A round left as `.inprogress` by a killed run (no atomic rename)
    must be rebuilt, not trusted."""
    from ocr_automation_system_spark.functions import dedup as D

    pairs = spark.createDataFrame([(0, 1), (1, 2)], ["doc_a", "doc_b"])
    ckpt = str(tmp_path / "ck")
    # fingerprint of this exact pair set (mirror the impl's keying)
    from pyspark.sql import functions as SF
    sym = pairs.select(SF.col("doc_a").alias("src"),
                       SF.col("doc_b").alias("dst"))
    e = sym.unionByName(sym.select(SF.col("dst").alias("src"),
                                   SF.col("src").alias("dst"))).distinct()
    st = e.agg(SF.count(SF.lit(1)).alias("n"),
               SF.bit_xor(SF.xxhash64("src", "dst")).alias("fp")).collect()[0]
    cc_name = f"cc-{st['n']}-{(st['fp'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
    leftover = os.path.join(ckpt, cc_name, "edges.inprogress")
    os.makedirs(leftover)
    with open(os.path.join(leftover, "part-garbage.parquet"), "w") as fh:
        fh.write("not parquet")
    out = D.connected_components(pairs, collect_threshold=0,
                                 checkpoint_dir=ckpt)
    assert {r["cluster_id"] for r in out.collect()} == {0}
    assert not os.path.exists(leftover)


def test_cc_checkpoints_invalidate_when_input_changes(spark, tmp_path):
    """The supported interrupt/resume workflow: extraction resumes with
    MORE data, then the dedup ladder re-runs into the same checkpoint
    dir. The cc checkpoints are keyed by an edge-set fingerprint, so the
    grown input must NOT silently reuse the old edge set — the new run
    gets fresh rounds and the right clusters, and the stale fingerprint's
    subdir is pruned."""
    from ocr_automation_system_spark.functions import dedup as D

    ckpt = str(tmp_path / "ck")
    p1 = spark.createDataFrame([(0, 1), (1, 2)], ["doc_a", "doc_b"])
    out1 = {r["node"]: r["cluster_id"]
            for r in D.connected_components(
                p1, collect_threshold=0, checkpoint_dir=ckpt).collect()}
    assert out1 == {0: 0, 1: 0, 2: 0}
    first = [d for d in os.listdir(ckpt) if d.startswith("cc-")]
    assert len(first) == 1

    # input grows: a second component appears
    p2 = p1.unionByName(spark.createDataFrame([(10, 11)],
                                              ["doc_a", "doc_b"]))
    out2 = {r["node"]: r["cluster_id"]
            for r in D.connected_components(
                p2, collect_threshold=0, checkpoint_dir=ckpt).collect()}
    assert out2 == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10}
    second = [d for d in os.listdir(ckpt) if d.startswith("cc-")]
    assert len(second) == 1 and second != first  # stale subdir pruned


def test_commit_and_sinks_write_zstd_parquet(spark, docs, tmp_path):
    """The session writes every Parquet column chunk with zstd: the
    resumable commit and the four crawl sinks all report ZSTD, and
    DuckDB reads each table back to the row count Spark sees."""
    import glob

    import duckdb
    import pyarrow.parquet as pq

    from ocr_automation_system_spark.operators.adapters import (
        build_entities, checksum_consistency_check, duplicate_id_check,
    )
    from ocr_automation_system_spark.operators.report import entity_report
    from ocr_automation_system_spark.operators.rules import run_rules
    from ocr_automation_system_spark.sources.catalog import write_results

    out = str(tmp_path / "crawl")
    run_resumable_extraction(spark, docs, out, n_buckets=2)
    results = read_extractions(spark, out)
    validation = run_rules(build_entities(results))
    sinks = {
        "validation_results": validation,
        "entity_reports": entity_report(validation),
        "duplicate_ids": duplicate_id_check(results),
        "checksum_checks": checksum_consistency_check(results),
    }
    for name, df in sinks.items():
        write_results(df, os.path.join(out, name))

    tables = {"extractions": "extractions/bucket=*"} | {n: n for n in sinks}
    for name, sub in tables.items():
        parts = sorted(glob.glob(os.path.join(out, sub, "part-*.parquet")))
        assert parts, name
        codecs = {md.row_group(g).column(c).compression
                  for md in (pq.ParquetFile(p).metadata for p in parts)
                  for g in range(md.num_row_groups)
                  for c in range(md.num_columns)}
        assert codecs == {"ZSTD"}, (name, codecs)
        want = spark.read.parquet(os.path.join(out, name)).count()
        got = duckdb.sql(
            f"SELECT count(*) FROM read_parquet({parts!r})").fetchone()[0]
        assert got == want, (name, got, want)
