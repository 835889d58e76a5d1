"""End-to-end test of the production job's --curate artifact: extraction
-> exact dedup -> near-dup cluster keep -> host quota -> train/val split
-> partitioned parquet, with per-stage lineage counts and deterministic
reruns."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

import spark_submit_job  # noqa: E402


def _run(tmp_path, n=400):
    out = str(tmp_path / "job")
    rc = spark_submit_job.main([
        "--synthetic", str(n), "--output", out, "--curate",
        "--domain-quota", "50",
    ], stop_session=False)
    assert rc == 0
    return out


def test_curate_artifact(spark, tmp_path):
    out = _run(tmp_path)
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    # survivor counts never grow down the chain
    assert counts["usable"] >= counts["after_exact_dedup"] \
        >= counts["after_near_dedup"] >= counts["after_domain_quota"]
    assert counts["train"] + counts["val"] == counts["after_domain_quota"]
    assert counts["val"] > 0 and counts["train"] > counts["val"]

    cur = spark.read.parquet(os.path.join(out, "curated"))
    rows = cur.collect()
    assert len(rows) == counts["after_domain_quota"]
    assert set(cur.columns) >= {"doc_id", "text", "host", "quality", "split"}
    # no duplicate texts survive exact dedup
    texts = [r["text"] for r in rows]
    assert len(texts) == len(set(texts)) or counts["after_near_dedup"] < \
        counts["after_exact_dedup"]  # near-dups may share no exact text

    first = sorted((r["doc_id"], r["split"]) for r in rows)
    # rerun over the SAME committed extractions is byte-deterministic
    out2 = _run(tmp_path)
    assert out2 == out  # same path, resumed (extraction all skipped)
    cur2 = spark.read.parquet(os.path.join(out, "curated"))
    assert sorted((r["doc_id"], r["split"]) for r in cur2.collect()) == first


def test_curate_chunk_export(spark, tmp_path):
    out = str(tmp_path / "jobc")
    rc = spark_submit_job.main([
        "--synthetic", "200", "--output", out, "--curate",
        "--domain-quota", "50", "--chunk-tokens", "32",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    ch = spark.read.parquet(os.path.join(out, "chunks"))
    rows = ch.collect()
    assert len(rows) == counts["train_chunks"] > 0
    assert set(ch.columns) == {"doc_id", "chunk_idx", "start_tok",
                               "n_tokens", "chunk_md5"}
    # every train doc is covered and no chunk exceeds the budget
    train_ids = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "curated"))
        .filter("split = 'train' AND length(trim(text)) > 0").collect()}
    assert {r["doc_id"] for r in rows} == train_ids
    assert all(0 < r["n_tokens"] <= 32 for r in rows)


def test_curate_with_policy(spark, tmp_path):
    out = str(tmp_path / "jobp")
    rc = spark_submit_job.main([
        "--synthetic", "300", "--output", out, "--curate", "--policy",
        "--domain-quota", "100",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert "after_policy" in counts
    dropped = sum(v for k, v in counts.items()
                  if k.startswith("policy_dropped_"))
    assert counts["after_policy"] == counts["usable"] - dropped
    assert counts["after_exact_dedup"] <= counts["after_policy"]
    # the curated output only holds policy survivors
    cur = spark.read.parquet(os.path.join(out, "curated"))
    assert cur.count() == counts["train"] + counts["val"] > 0


def test_curate_gopher_stage(spark, tmp_path):
    """--gopher applies the full published battery before dedup: the
    row-local gates' per-reason drops plus the n-gram repetition drop
    reconcile exactly with the after_gopher survivor count."""
    out = str(tmp_path / "jobg")
    rc = spark_submit_job.main([
        "--synthetic", "300", "--output", out, "--curate", "--gopher",
        "--domain-quota", "100",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert "after_gopher" in counts
    dropped = sum(v for k, v in counts.items()
                  if k.startswith("gopher_dropped_"))
    assert counts["after_gopher"] == counts["usable"] - dropped
    assert counts["after_exact_dedup"] <= counts["after_gopher"]
    cur = spark.read.parquet(os.path.join(out, "curated"))
    assert cur.count() == counts["train"] + counts["val"] > 0


def test_curate_semdedup_stage(spark, tmp_path):
    out = str(tmp_path / "jobsd")
    rc = spark_submit_job.main([
        "--synthetic", "300", "--output", out, "--curate",
        "--domain-quota", "50", "--semdedup",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    # the semantic stage sits between near-dedup and the quota, never grows
    assert counts["after_near_dedup"] >= counts["after_semdedup"] \
        >= counts["after_domain_quota"]
    assert counts["after_semdedup"] > 0
    cur = spark.read.parquet(os.path.join(out, "curated"))
    assert cur.count() == counts["after_domain_quota"]


def test_curate_wet_export(spark, tmp_path):
    out = str(tmp_path / "jobwet")
    rc = spark_submit_job.main([
        "--synthetic", "200", "--output", out, "--curate",
        "--domain-quota", "50", "--wet-export", "2",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert counts["wet_records"] == counts["train"]
    # the WET files parse back to exactly the train texts
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.sources.warc import read_warc

    back = read_warc(spark, os.path.join(out, "wet"))
    assert back.filter(F.col("status") != "ok").count() == 0
    got = sorted((r["url"], bytes(r["html"]).decode("utf-8"))
                 for r in back.collect())
    train = spark.read.parquet(os.path.join(out, "curated")).filter(
        F.col("split") == "train")
    want = sorted((r["doc_id"], r["text"] or "") for r in train.collect())
    assert got == want

    # the CDX export indexes every WET record, and a ranged read of
    # one CDX row alone recovers its record (the cluster.idx promise)
    import io as _io

    from ocr_automation_system_spark.sources.warc import _parse_stream

    assert counts["cdx_rows"] == counts["wet_records"]
    cdx = spark.read.parquet(os.path.join(out, "cdx")).collect()
    c = sorted(cdx, key=lambda r: r["urlkey"])[0]
    with open(os.path.join(out, "wet", c["warc_file"]), "rb") as fh:
        fh.seek(c["rec_offset"])
        chunk = fh.read(c["rec_length"])
    (rec,) = list(_parse_stream(_io.BytesIO(chunk), "ranged"))
    assert rec["status"] == "ok" and rec["url"] == c["url"]


def test_curate_token_budget_stage(spark, tmp_path):
    """--token-budget caps each host's token contribution after the
    quota stage; rerunning writes byte-identical curated rows (the
    selection is hash/quality-deterministic, no RNG)."""
    out = str(tmp_path / "jobtb")
    args = ["--synthetic", "400", "--output", out, "--curate",
            "--token-budget", "300"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert 0 < counts["after_token_budget"] <= counts["after_domain_quota"]
    cur = spark.read.parquet(os.path.join(out, "curated"))
    assert cur.count() == counts["after_token_budget"]
    # per-host token totals respect the budget
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.text import ws_token_count
    per_host = (cur.withColumn(
        "host", F.regexp_extract("doc_id", r"https?://([^/]+)", 1))
        .groupBy("host")
        .agg(F.sum(ws_token_count(F.col("text"))).alias("toks"))
        .collect())
    assert all(r["toks"] <= 300 for r in per_host)
    first = sorted(map(tuple, cur.select("doc_id").collect()))
    assert spark_submit_job.main(args, stop_session=False) == 0
    again = spark.read.parquet(os.path.join(out, "curated"))
    assert sorted(map(tuple, again.select("doc_id").collect())) == first


def test_curate_probe_filter_stage(spark, tmp_path):
    """--probe-drop-pct inserts the classifier-filter stage between
    dedup and the quota; threshold ties are kept (deterministic), so
    the count is bounded by the dedup survivor count and never zero."""
    out = str(tmp_path / "jobpf")
    rc = spark_submit_job.main([
        "--synthetic", "300", "--output", out, "--curate",
        "--probe-drop-pct", "25",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert 0 < counts["after_probe_filter"] <= counts["after_near_dedup"]
    assert counts["after_domain_quota"] <= counts["after_probe_filter"]


def test_curate_probe_per_source_and_weights_artifact(spark, tmp_path):
    """--probe-per-source cuts per host (each host keeps ceil(75%) of
    its deduped docs); --probe-weights persists the trained weights and
    a rerun warm-starts from them — the artifact exists and reloads in
    feature order."""
    out = str(tmp_path / "jobppс")
    wpath = str(tmp_path / "probe_weights")
    args = ["--synthetic", "300", "--output", out, "--curate",
            "--probe-drop-pct", "25", "--probe-per-source",
            "--probe-weights", wpath]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert 0 < counts["after_probe_filter"] <= counts["after_near_dedup"]

    from ocr_automation_system_spark.functions.probe import (
        PROBE_DIM, read_probe_weights)
    w1 = read_probe_weights(spark, wpath)
    assert len(w1) == PROBE_DIM and any(w1)

    # rerun: resumes extraction and warm-starts the probe from the
    # stored artifact — the refit CONTINUES the fit (more total GD
    # steps), so weights move and the cut's membership may change, but
    # the per-source keep COUNT is weight-independent (ceil(75% per
    # host)) and must hold exactly
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts2 = json.load(fh)
    assert counts2["after_probe_filter"] == counts["after_probe_filter"]
    w2 = read_probe_weights(spark, wpath)
    assert len(w2) == PROBE_DIM and w2 != w1  # the refit really resumed


def test_curate_alpha_sample_stage(spark, tmp_path):
    """--alpha rebalances the host mixture after the quota stage: the
    smallest surviving host keeps everything, larger hosts shed mass
    toward n^alpha; deterministic across reruns (md5 gate, no RNG)."""
    out = str(tmp_path / "jobalpha")
    args = ["--synthetic", "400", "--output", out, "--curate",
            "--alpha", "0.5"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert 0 < counts["after_alpha_sample"] <= counts["after_domain_quota"]
    cur = spark.read.parquet(os.path.join(out, "curated"))
    assert cur.count() == counts["after_alpha_sample"]
    first = sorted(map(tuple, cur.select("doc_id").collect()))
    assert spark_submit_job.main(args, stop_session=False) == 0
    again = spark.read.parquet(os.path.join(out, "curated"))
    assert sorted(map(tuple, again.select("doc_id").collect())) == first


def test_curate_keep_best_stage(spark, tmp_path):
    """--keep-best swaps the near-dup representative to the
    highest-quality cluster member; chain stays monotone and reruns
    byte-identical (quality + hash deterministic, no RNG)."""
    out = str(tmp_path / "jobkb")
    args = ["--synthetic", "400", "--output", out, "--curate",
            "--keep-best"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert (0 < counts["after_near_dedup"]
            <= counts["after_exact_dedup"] <= counts["usable"])
    cur = spark.read.parquet(os.path.join(out, "curated"))
    first = sorted(map(tuple, cur.select("doc_id").collect()))
    assert spark_submit_job.main(args, stop_session=False) == 0
    again = spark.read.parquet(os.path.join(out, "curated"))
    assert sorted(map(tuple, again.select("doc_id").collect())) == first


def test_curate_zorder_layout(spark, tmp_path):
    """--zorder changes ONLY the file layout: identical row set to a
    plain run, and every written train file is internally sorted by
    the Morton key (the property file min/max pruning relies on)."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.layout import (
        doc_layout_dims,
        zorder_key,
    )

    plain = str(tmp_path / "plain")
    rc = spark_submit_job.main([
        "--synthetic", "300", "--output", plain, "--curate",
        "--domain-quota", "50",
    ], stop_session=False)
    assert rc == 0
    zo = str(tmp_path / "zo")
    rc = spark_submit_job.main([
        "--synthetic", "300", "--output", zo, "--curate",
        "--domain-quota", "50", "--zorder",
    ], stop_session=False)
    assert rc == 0

    a = spark.read.parquet(os.path.join(plain, "curated"))
    b = spark.read.parquet(os.path.join(zo, "curated"))
    key = sorted((r["doc_id"], r["split"]) for r in a.collect())
    assert sorted((r["doc_id"], r["split"]) for r in b.collect()) == key

    d1, d2 = doc_layout_dims(
        F.col("host"), F.length(F.coalesce(F.col("text"), F.lit(""))))
    tagged = (b.filter(F.col("split") == "train")
              .select(F.input_file_name().alias("f"),
                      zorder_key(d1, d2).alias("zk")).collect())
    by_file: dict = {}
    for r in tagged:
        by_file.setdefault(r["f"], []).append(r["zk"])
    assert by_file
    for f, ks in by_file.items():
        assert ks == sorted(ks), f


def test_curate_sample_export(spark, tmp_path):
    out = str(tmp_path / "job")
    rc = spark_submit_job.main([
        "--synthetic", "400", "--output", out, "--curate",
        "--domain-quota", "50", "--sample-k", "25",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert counts["sample_rows"] == 25
    samp = spark.read.parquet(os.path.join(out, "sample"))
    rows = samp.collect()
    assert len(rows) == 25
    assert len({r["doc_id"] for r in rows}) == 25  # without replacement
    assert sorted(r["rank"] for r in rows) == list(range(1, 26))
    # sampled ids are train-split members
    train = {r["doc_id"] for r in
             spark.read.parquet(os.path.join(out, "curated"))
             .filter("split = 'train'").collect()}
    assert {r["doc_id"] for r in rows} <= train
    # deterministic: a rerun draws the SAME sample
    rc = spark_submit_job.main([
        "--synthetic", "400", "--output", out, "--curate",
        "--domain-quota", "50", "--sample-k", "25",
    ], stop_session=False)
    assert rc == 0
    again = {(r["doc_id"], r["rank"]) for r in
             spark.read.parquet(os.path.join(out, "sample")).collect()}
    assert again == {(r["doc_id"], r["rank"]) for r in rows}


def test_curate_compliance_stages(spark, tmp_path):
    """--honor-noindex / --canonical-collapse: publisher directives
    applied before any content stage, each with a lineage count; the
    drop sets reconcile exactly against page_directives over the same
    corpus."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.links import (
        page_directives,
    )

    out = str(tmp_path / "jobc")
    rc = spark_submit_job.main([
        "--synthetic", "500", "--output", out, "--curate",
        "--honor-noindex", "--canonical-collapse",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert (counts["usable"] >= counts["after_noindex"]
            >= counts["after_canonical_collapse"]
            >= counts["after_exact_dedup"])
    # corpus carries directive shapes -> both stages actually dropped
    assert counts["after_noindex"] < counts["usable"]
    assert counts["after_canonical_collapse"] < counts["after_noindex"]

    # reconcile: dropped-by-noindex == usable extraction rows that
    # declare noindex
    docs = spark.read.parquet(
        os.path.join(out, "synthetic_documents.parquet"))
    d = page_directives(docs).persist()
    usable = spark.read.parquet(os.path.join(out, "extractions")) \
        .filter(F.col("doc_status") == "ok").select("url")
    n_noindex = usable.join(
        d.filter(F.col("noindex")).select("url"), "url", "left_semi"
    ).count()
    assert counts["usable"] - counts["after_noindex"] == n_noindex


def test_curate_winnow_detector(spark, tmp_path):
    """--near-dup winnow swaps the pair detector (MOSS winnowing,
    guaranteed recall) into the near-dup stage; the CC/keep machinery
    and every downstream stage run unchanged, the lineage records the
    detector, and a rerun over the same committed extractions is
    deterministic (the CC checkpoint is keyed by edge-set fingerprint,
    so the winnow edges can never collide with a prior LSH run's)."""
    out = str(tmp_path / "jobw")

    def run():
        rc = spark_submit_job.main([
            "--synthetic", "300", "--output", out, "--curate",
            "--domain-quota", "50", "--near-dup", "winnow",
        ], stop_session=False)
        assert rc == 0

    run()
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert counts["near_dup_detector"] == "winnow"
    assert counts["usable"] >= counts["after_exact_dedup"] \
        >= counts["after_near_dedup"] >= counts["after_domain_quota"]
    cur = spark.read.parquet(os.path.join(out, "curated"))
    first = sorted((r["doc_id"], r["split"]) for r in cur.collect())
    assert len(first) == counts["after_domain_quota"] > 0

    run()  # resumed rerun: byte-deterministic
    cur2 = spark.read.parquet(os.path.join(out, "curated"))
    assert sorted((r["doc_id"], r["split"]) for r in cur2.collect()) == first


def test_curate_robots_rules(spark, tmp_path):
    """--robots-rules: RFC 9309 verdicts drop disallowed urls before
    any content stage; the lineage count reconciles exactly against
    robots_verdicts over the usable extraction rows."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.links import (
        robots_verdicts,
    )

    rules_path = str(tmp_path / "robots_rules")
    spark.createDataFrame(
        [  # host00 disallows /pan except /pan/0000002 (longest wins);
           # host01 disallows everything
            ("host00.example.com", "/pan", False),
            ("host00.example.com", "/pan/0000002", True),
            ("host01.example.com", "", False),
        ],
        "host string, prefix string, allow boolean",
    ).write.mode("overwrite").parquet(rules_path)

    out = str(tmp_path / "jobr")
    rc = spark_submit_job.main([
        "--synthetic", "400", "--output", out, "--curate",
        "--robots-rules", rules_path,
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert counts["usable"] > counts["after_robots"] > 0

    usable = (spark.read.parquet(os.path.join(out, "extractions"))
              .filter(F.col("doc_status") == "ok").select("url"))
    rules = spark.read.parquet(rules_path)
    n_disallowed = (robots_verdicts(usable, rules)
                    .filter(~F.col("allow")).count())
    assert counts["usable"] - counts["after_robots"] == n_disallowed
    # the longest-prefix Allow override actually rescues matching pages
    in_scope = usable.filter(F.col("url").startswith(
        "https://host00.example.com/pan/0000002")).count()
    rescued = (robots_verdicts(usable, rules)
               .filter(F.col("matched_prefix") == "/pan/0000002")
               .filter(F.col("allow")).count())
    assert rescued == in_scope


def test_curate_error_page_and_redirect_drops(spark, tmp_path):
    """--drop-error-pages / --drop-redirects: HTTP-200 junk (soft 404s,
    parked pages, meta-refresh stubs) dropped before any content stage;
    each lineage count reconciles exactly against the detector over the
    usable extraction rows."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.links import (
        meta_refresh_targets, soft404_flags,
    )

    out = str(tmp_path / "jobe")
    rc = spark_submit_job.main([
        "--synthetic", "600", "--output", out, "--curate",
        "--drop-error-pages", "--drop-redirects",
    ], stop_session=False)
    assert rc == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert (counts["usable"] >= counts["after_error_pages"]
            >= counts["after_redirects"] >= counts["after_exact_dedup"])
    assert counts["after_error_pages"] < counts["usable"]

    docs = spark.read.parquet(
        os.path.join(out, "synthetic_documents.parquet"))
    usable = (spark.read.parquet(os.path.join(out, "extractions"))
              .filter(F.col("doc_status") == "ok").select("url"))
    n_err = usable.join(
        soft404_flags(docs).filter(F.col("reason") != "ok")
        .select("url"), "url", "left_semi").count()
    assert counts["usable"] - counts["after_error_pages"] == n_err
    survivors = usable.join(
        soft404_flags(docs).filter(F.col("reason") != "ok")
        .select("url"), "url", "left_anti")
    n_red = survivors.join(
        meta_refresh_targets(docs).filter(F.col("is_redirect"))
        .select("url"), "url", "left_semi").count()
    assert counts["after_error_pages"] - counts["after_redirects"] == n_red


def test_curate_scrub_pii_stage(spark, tmp_path):
    """--scrub-pii wires the checksum-gated redaction as the last
    pre-split stage. The synthetic corpus carries NO Luhn/mod-97-valid
    instruments, so the strong claim here is zero FALSE redactions on
    400 organic documents (mobile numbers, bank accounts, GST/PAN/IFSC
    codes all pattern-near but checksum-fail or length-fail) — the
    redaction path itself is pinned by tests/test_pii_checksum.py."""
    out = str(tmp_path / "jobpii")
    args = ["--synthetic", "400", "--output", out, "--curate",
            "--scrub-pii"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert counts["pii_redacted_docs"] == 0
    cur = spark.read.parquet(os.path.join(out, "curated"))
    assert cur.filter(cur.text.contains("<CARD>")
                      | cur.text.contains("<IBAN>")).count() == 0
    assert cur.count() == counts["after_domain_quota"]


def test_curate_decontaminate_stage(spark, tmp_path):
    """--decontaminate <eval parquet> excises 5-gram collisions span-
    level after near-dedup: every UNKNOWN-doctype doc carries the
    planted header line, so all of them rewrite with the colliding
    tokens gone; non-colliding docs keep their original bytes."""
    phrase = "CONSENT ORDER UNDER THE WATER ACT"
    eval_p = str(tmp_path / "evalset")
    spark.createDataFrame([(phrase,)], ["text"]).write.parquet(eval_p)
    out = str(tmp_path / "jobdec")
    args = ["--synthetic", "400", "--output", out, "--curate",
            "--decontaminate", eval_p]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    assert counts["decontaminated_docs"] > 0
    assert counts["decontaminated_tokens"] >= counts["decontaminated_docs"]
    cur = spark.read.parquet(os.path.join(out, "curated"))
    from pyspark.sql import functions as F
    leftover = cur.filter(
        F.lower(F.col("text")).contains("consent order under the water"))
    assert leftover.count() == 0


def test_curate_jsonl_export(spark, tmp_path):
    """--jsonl-export N writes the train split as N gzip JSONL files;
    read-back rows equal the train count, every line carries
    url/text/host/n_tokens, and n_tokens matches the text."""
    out = str(tmp_path / "jobjsonl")
    args = ["--synthetic", "400", "--output", out, "--curate",
            "--jsonl-export", "3"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    back = spark.read.json(os.path.join(out, "jsonl"))
    assert counts["jsonl_rows"] == counts["train"] == back.count()
    assert sorted(back.columns) == ["host", "n_tokens", "text", "url"]
    import glob as _g
    files = _g.glob(os.path.join(out, "jsonl", "part-*.json.gz"))
    assert len(files) == 3
    from pyspark.sql import functions as F
    from ocr_automation_system_spark.functions.text import bpe_token_count
    bad = back.filter(bpe_token_count(F.col("text")) != F.col("n_tokens"))
    assert bad.count() == 0


def test_curate_quota_etld1(spark, tmp_path):
    """--quota-etld1: the per-registrant quota binds where per-hostname
    quotas can't — all corpus hosts share the example.com registrable
    domain, so a quota of 40 caps the WHOLE corpus at 40 docs, while
    the hostname quota would keep everything."""
    out = str(tmp_path / "jobq1")
    args = ["--synthetic", "300", "--output", out, "--curate",
            "--domain-quota", "40", "--quota-etld1"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    # registry.example.org contributes a handful too: <= 40 per eTLD+1
    assert counts["after_domain_quota"] <= 80
    out2 = str(tmp_path / "jobq2")
    args2 = ["--synthetic", "300", "--output", out2, "--curate",
             "--domain-quota", "40"]
    assert spark_submit_job.main(args2, stop_session=False) == 0
    with open(os.path.join(out2, "curation_lineage.json")) as fh:
        counts2 = json.load(fh)
    # hostname quota never binds at 40/host on this corpus
    assert counts2["after_domain_quota"] > counts["after_domain_quota"]


def test_curate_neyman_sample(spark, tmp_path):
    """--neyman-sample M: per-host draw sizes follow the Neyman
    allocation over the train split; total <= M; rerun draws the same
    rows (md5 order, no RNG)."""
    out = str(tmp_path / "jobney")
    args = ["--synthetic", "400", "--output", out, "--curate",
            "--neyman-sample", "60"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    samp = spark.read.parquet(os.path.join(out, "neyman_sample"))
    assert 0 < counts["neyman_rows"] <= 60
    assert samp.count() == counts["neyman_rows"]
    first = sorted(r["doc_id"] for r in samp.select("doc_id").collect())
    assert spark_submit_job.main(args, stop_session=False) == 0
    again = spark.read.parquet(os.path.join(out, "neyman_sample"))
    assert sorted(r["doc_id"] for r in again.select("doc_id").collect()) \
        == first


def test_curate_audit_report(spark, tmp_path):
    """--audit-report renders <output>/REPORT.md with the config echo,
    the curation funnel and the artifact inventory."""
    out = str(tmp_path / "jobrep")
    args = ["--synthetic", "300", "--output", out, "--curate",
            "--audit-report"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "REPORT.md")) as fh:
        rep = fh.read()
    assert "## Curation funnel" in rep
    assert "| after_exact_dedup |" in rep
    assert "| curated/ |" in rep
    assert "`--synthetic` = `300`" in rep


def test_curate_token_lineage(spark, tmp_path):
    """--token-lineage records per-stage token totals; the funnel is
    monotone non-increasing and train <= the quota stage."""
    out = str(tmp_path / "jobtok")
    args = ["--synthetic", "300", "--output", out, "--curate",
            "--token-lineage"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    with open(os.path.join(out, "curation_lineage.json")) as fh:
        counts = json.load(fh)
    seq = [counts["tokens_usable"], counts["tokens_after_near_dedup"],
           counts["tokens_after_domain_quota"], counts["tokens_train"]]
    assert all(isinstance(v, int) and v > 0 for v in seq)
    assert seq == sorted(seq, reverse=True)


def test_epochs_export_curriculum_and_rerun_identical(spark, tmp_path):
    """--epochs N --curriculum: each epoch carries the train multiset;
    epoch 0 is band-monotone in sort order under the curriculum; orders
    differ between epochs; a rerun reproduces epoch 0 exactly."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.text import quality_score

    out = str(tmp_path / "job")
    args = ["--synthetic", "300", "--output", out, "--curate",
            "--epochs", "2", "--curriculum"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    ep = spark.read.parquet(os.path.join(out, "epochs"))
    tr = spark.read.parquet(os.path.join(out, "curated")) \
        .filter("split = 'train'")
    ids = sorted(r["doc_id"] for r in tr.collect())
    for k in (0, 1):
        got = sorted(r["doc_id"] for r in
                     ep.filter(F.col("epoch") == k).collect())
        assert got == ids
    e0 = (ep.filter(F.col("epoch") == 0)
          .withColumn("band", F.least(F.lit(3), F.floor(
              quality_score(F.col("text")) * 4).cast("long")))
          .orderBy("sort_key").collect())
    bands = [r["band"] for r in e0]
    assert bands == sorted(bands, reverse=True)
    o0 = [r["doc_id"] for r in e0]
    o1 = [r["doc_id"] for r in ep.filter(F.col("epoch") == 1)
          .orderBy("sort_key").collect()]
    assert o0 != o1 and len(o0) == len(ids)
    assert spark_submit_job.main(args, stop_session=False) == 0
    e0b = [r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "epochs")).filter(F.col("epoch") == 0)
        .orderBy("sort_key").collect()]
    assert e0b == o0


def test_epochs_curriculum_blend_monotone_displacement(spark, tmp_path):
    """--curriculum-blend (round-5): epoch k's order drifts
    monotonically from the quality-warmup order to the uniform order —
    measured as band-order inversions (pairs where a worse-band doc
    precedes a better-band doc), strictly zero at epoch 0 and
    non-decreasing in k. Epoch 0 equals the pure --curriculum warmup
    law (band-monotone); the last epoch is the pure uniform md5 order
    (NOT band-monotone); a rerun reproduces every epoch exactly."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.text import quality_score

    out = str(tmp_path / "job")
    args = ["--synthetic", "400", "--output", out, "--curate",
            "--epochs", "4", "--curriculum", "--curriculum-blend"]
    assert spark_submit_job.main(args, stop_session=False) == 0
    ep = (spark.read.parquet(os.path.join(out, "epochs"))
          .withColumn("band", F.least(F.lit(3), F.floor(
              quality_score(F.col("text")) * 4).cast("long"))))

    def order(k):
        return [(r["doc_id"], r["band"]) for r in
                ep.filter(F.col("epoch") == k).orderBy("sort_key")
                .collect()]

    def inversions(rows):
        bands = [b for _i, b in rows]
        return sum(1 for x in range(len(bands))
                   for y in range(x + 1, len(bands))
                   if bands[x] < bands[y])

    orders = {k: order(k) for k in range(4)}
    inv = [inversions(orders[k]) for k in range(4)]
    assert inv[0] == 0                      # pure warmup: band-monotone
    assert inv == sorted(inv)               # displacement monotone in k
    assert inv[3] > inv[1] > 0              # genuinely interior blends
    # every epoch carries the same train multiset, different orders
    ids = sorted(i for i, _b in orders[0])
    for k in range(1, 4):
        assert sorted(i for i, _b in orders[k]) == ids
        assert [i for i, _b in orders[k]] != [i for i, _b in orders[0]]
    # rerun-identical, all epochs
    assert spark_submit_job.main(args, stop_session=False) == 0
    ep2 = (spark.read.parquet(os.path.join(out, "epochs"))
           .withColumn("band", F.least(F.lit(3), F.floor(
               quality_score(F.col("text")) * 4).cast("long"))))
    for k in range(4):
        again = [(r["doc_id"], r["band"]) for r in
                 ep2.filter(F.col("epoch") == k).orderBy("sort_key")
                 .collect()]
        assert again == orders[k], f"epoch {k} not rerun-identical"


def test_curriculum_blend_without_curriculum_is_a_usage_error(
        monkeypatch, tmp_path):
    """--curriculum-blend alone would be silently inert (blending needs
    the --curriculum warmup order); the job refuses it right after
    argument parsing, before it builds a Spark session."""
    def no_session(*_a, **_k):
        raise AssertionError("a Spark session was built")

    monkeypatch.setattr(spark_submit_job, "build_session", no_session)
    with pytest.raises(SystemExit) as exc:
        spark_submit_job.main(
            ["--synthetic", "10", "--output", str(tmp_path / "job"),
             "--curate", "--epochs", "4", "--curriculum-blend"],
            stop_session=False)
    assert exc.value.code == 2


def test_job_commits_bounded_waves_and_a_failed_wave_keeps_earlier_ones(
        spark, monkeypatch, tmp_path, capsys):
    """The job commits its url-hash buckets RESUME_WAVE at a time: a wave
    that fails loses only its own buckets, and the rerun runs the rest."""
    from ocr_automation_system_spark.plans.resume import committed_buckets

    out = str(tmp_path / "job")
    argv = ["--synthetic", "60", "--output", out]
    commit = spark_submit_job.run_resumable_extraction
    waves = []

    def lose_second_wave(*args, **kwargs):
        waves.append(kwargs["max_buckets"])
        if len(waves) == 2:
            raise RuntimeError("executor lost")
        return commit(*args, **kwargs)

    monkeypatch.setattr(spark_submit_job, "RESUME_WAVE", 5)
    monkeypatch.setattr(spark_submit_job, "run_resumable_extraction",
                        lose_second_wave)
    with pytest.raises(RuntimeError, match="executor lost"):
        spark_submit_job.main(argv, stop_session=False)
    assert waves == [5, 5]
    assert committed_buckets(out, 16) == {0, 1, 2, 3, 4}

    monkeypatch.setattr(spark_submit_job, "run_resumable_extraction", commit)
    capsys.readouterr()
    assert spark_submit_job.main(argv, stop_session=False) == 0
    printed = capsys.readouterr().out
    assert "extraction: ran=11 skipped=5 buckets" in printed
    assert "done: 60 docs across 16 committed buckets" in printed
