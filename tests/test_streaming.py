"""Streaming surface tests: the file-source extraction stream produces the
same rows as the batch operator (exactly-once via checkpoint), incremental
drops are picked up without reprocessing, and the watermarked windowed agg
matches its batch twin on bounded input."""

from __future__ import annotations

import os
import shutil

import pytest

from ocr_automation_system_spark.corpus import generate_corpus
from ocr_automation_system_spark.functions.windows import tumbling_window_agg
from ocr_automation_system_spark.operators.extract import extract_documents
from ocr_automation_system_spark.streaming.stream import (
    stream_documents, windowed_event_counts, write_extraction_stream,
)


@pytest.fixture()
def doc_dir(tmp_path):
    """Two parquet 'crawl drops' written separately."""
    d = str(tmp_path / "docs_in")
    os.makedirs(d)
    full = generate_corpus(200, seed=11)
    full.iloc[:120].to_parquet(os.path.join(d, "drop1.parquet"), index=False,
                               coerce_timestamps="us", allow_truncated_timestamps=True)
    return d, full


def _run_stream(spark, d, out, ckpt):
    stream = extract_documents(stream_documents(spark, d))
    q = write_extraction_stream(stream, out, ckpt)
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_stream_matches_batch_and_resumes(spark, doc_dir, tmp_path):
    d, full = doc_dir
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    got1 = _run_stream(spark, d, out, ckpt)
    assert got1.count() == 120

    # Second drop lands; re-trigger picks up ONLY the new file.
    full.iloc[120:].to_parquet(os.path.join(d, "drop2.parquet"), index=False,
                               coerce_timestamps="us", allow_truncated_timestamps=True)
    got2 = _run_stream(spark, d, out, ckpt)
    assert got2.count() == 200

    batch = extract_documents(spark.read.parquet(d))
    key = lambda r: (r["url"], r["doc_status"], r["document_type"],
                     r["extracted_text"], r["fields_json"])
    assert sorted(map(key, got2.collect())) == sorted(map(key, batch.collect()))


def test_host_quality_monitor_stateful(spark, doc_dir, tmp_path):
    """applyInPandasWithState accumulates per-host counters ACROSS
    micro-batches: after a second drop, counts cover both drops and match
    a batch-computed groupBy over the full input."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.streaming.stream import host_quality_monitor

    d, full = doc_dir
    out, ckpt = str(tmp_path / "hq_out"), str(tmp_path / "hq_ckpt")
    full.iloc[120:].to_parquet(os.path.join(d, "drop2.parquet"), index=False,
                               coerce_timestamps="us", allow_truncated_timestamps=True)

    monitored = host_quality_monitor(
        extract_documents(stream_documents(spark, d, max_files_per_trigger=1)))
    q = (monitored.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    # last emitted row per host = final running totals
    rows = spark.read.parquet(out)
    from pyspark.sql.window import Window
    w = Window.partitionBy("host").orderBy(F.col("n_docs").desc())
    finals = {r["host"]: (r["n_docs"], r["n_ok"], r["n_unusable"])
              for r in rows.withColumn("rn", F.row_number().over(w))
                            .filter("rn = 1").collect()}

    batch = extract_documents(spark.read.parquet(d)).withColumn(
        "host", F.regexp_extract("url", r"https://([^/]+)/", 1))
    expected = {r["host"]: (r["n"], r["ok"], r["un"]) for r in
                batch.groupBy("host").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count(F.when(F.col("doc_status") == "ok", 1)).alias("ok"),
                    F.count(F.when(F.col("doc_status") == "unusable", 1)).alias("un"),
                ).collect()}
    assert finals == expected
    assert sum(v[0] for v in finals.values()) == 200


def test_windowed_counts_match_batch_twin(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # Batch twin groups on date_trunc; run the streaming aggregation in
    # batch mode on the same bounded input (watermark is a no-op there).
    stream_style = windowed_event_counts(events.withColumn(
        "ts", events["ts"].cast("timestamp")))
    batch_style = tumbling_window_agg(events).select(
        "window_start", "event_type", "n_events", "total_value")
    key = lambda r: (str(r["window_start"]), r["event_type"],
                     r["n_events"], round(r["total_value"], 6))
    assert sorted(map(key, stream_style.collect())) == \
           sorted(map(key, batch_style.collect()))


def test_streaming_dedup_drops_recrawls(spark, tmp_path):
    """First arrival of each content hash survives; re-crawls (same text,
    later warc_ts, different url) are dropped across micro-batches; state
    is watermark-bounded."""
    import pandas as pd

    from ocr_automation_system_spark.streaming.stream import streaming_dedup

    d = str(tmp_path / "docs_in")
    os.makedirs(d)
    base = pd.Timestamp("2026-01-01 00:00:00")
    drop1 = pd.DataFrame({
        "url": [f"https://a/{i}" for i in range(4)],
        "warc_ts": [base + pd.Timedelta(minutes=i) for i in range(4)],
        "html": [b""] * 4,
        "text": ["alpha text", "beta text", "gamma text", "delta text"],
        "lang": ["en"] * 4,
    })
    drop2 = pd.DataFrame({
        "url": [f"https://b/{i}" for i in range(3)],
        "warc_ts": [base + pd.Timedelta(minutes=10 + i) for i in range(3)],
        "html": [b""] * 3,
        # two re-crawls of drop1 content + one genuinely new doc
        "text": ["alpha text", "beta text", "epsilon text"],
        "lang": ["en"] * 3,
    })
    for name, df in (("drop1", drop1), ("drop2", drop2)):
        df.to_parquet(os.path.join(d, f"{name}.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)

    from ocr_automation_system_spark.streaming.stream import stream_documents
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    deduped = streaming_dedup(stream_documents(
        spark, d, max_files_per_trigger=1))
    q = (deduped.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out).collect()
    texts = sorted(r["text"] for r in got)
    assert texts == ["alpha text", "beta text", "delta text", "epsilon text",
                     "gamma text"]
    # first arrivals kept: every surviving alpha/beta row is from drop1
    by_text = {r["text"]: r["url"] for r in got}
    assert by_text["alpha text"].startswith("https://a/")
    assert by_text["beta text"].startswith("https://a/")
    assert by_text["epsilon text"].startswith("https://b/")


def test_stateless_curation_ops_stream_unchanged(spark, tmp_path):
    """pii_scrub and repetition_scores are pure column expressions, so the
    SAME function bodies must run on a readStream DataFrame and produce
    the batch rows — the engine's one-definition/two-modes property for
    the round-3 curation tier."""
    from ocr_automation_system_spark.functions import curation as C

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(0, "mail me@x.io or 10.0.0.1 call 9876543210"),
            (1, "spam spam spam spam spam spam spam spam spam spam"),
            (2, ""), (3, "a normal line of perfectly varied words")]
    spark.createDataFrame(rows, ["doc_id", "text"]) \
        .write.parquet(os.path.join(d, "drop1"))

    stream_in = (spark.readStream.schema("doc_id long, text string")
                 .parquet(os.path.join(d, "*")))
    for fn, name in ((C.pii_scrub, "pii"), (C.repetition_scores, "rep")):
        out = str(tmp_path / f"out_{name}")
        q = (fn(stream_in).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(
            tuple(r)
            for r in fn(spark.createDataFrame(rows, ["doc_id", "text"]))
            .collect())
        assert got == want, name


def test_stateless_link_and_url_ops_stream_unchanged(spark, tmp_path):
    """canonicalize_url and extract_links are narrow projections, so the
    SAME function bodies must run under readStream and produce the batch
    rows — extends the one-definition/two-modes property to the
    url/link tier."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.links import extract_links
    from ocr_automation_system_spark.functions.urlnorm import (
        canonicalize_url,
    )

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [("HTTPS://A.com/x#f", b'<html><a href="/p">P</a></html>'),
            ("https://b.com:443/y?utm_source=s&k=1",
             b'<html><a href="https://c.com/z">C z</a></html>'),
            ("https://c.com/z", b"\x00\xff\xfe<not html")]
    spark.createDataFrame(rows, ["url", "html"]) \
        .write.parquet(os.path.join(d, "drop1"))

    stream_in = (spark.readStream.schema("url string, html binary")
                 .parquet(os.path.join(d, "*")))
    batch_in = spark.createDataFrame(rows, ["url", "html"])
    cases = (
        (lambda df: df.select("url", canonicalize_url(F.col("url"))
                              .alias("canon")), "canon"),
        (extract_links, "links"),
    )
    for fn, name in cases:
        out = str(tmp_path / f"out_{name}")
        q = (fn(stream_in).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(tuple(r) for r in fn(batch_in).collect())
        assert got == want and got, name


def test_stateless_chunk_and_sample_ops_stream_unchanged(spark, tmp_path):
    """chunk_documents and stratified_sample are narrow (projection /
    broadcast-join) ops — the same bodies must run under readStream and
    reproduce the batch rows."""
    from ocr_automation_system_spark.functions.curation import (
        chunk_documents, stratified_sample,
    )

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(40)),
             ["a", "b"][i % 2]) for i in range(20)]
    schema = "doc_id long, text string, source string"
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "drop1"))

    stream_in = spark.readStream.schema(schema).parquet(os.path.join(d, "*"))
    batch_in = spark.createDataFrame(rows, schema)
    cases = (
        (lambda df: chunk_documents(df, chunk_tokens=16, overlap=4),
         "chunks"),
        (lambda df: stratified_sample(df, {"a": 400}), "sample"),
    )
    for fn, name in cases:
        out = str(tmp_path / f"out_{name}")
        q = (fn(stream_in).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(tuple(r) for r in fn(batch_in).collect())
        assert got == want and got, name


def test_streaming_hll_register_table_matches_batch(spark, tmp_path):
    """The HLL register table is the streaming-maintainable form of the
    cardinality sketch: a single groupBy(group, register) with max/count
    runs under readStream in complete mode and must converge to exactly
    the batch registers (the estimator itself is a batch finalize step
    over <= m rows per group — two chained aggregations, deliberately
    outside the stream)."""
    from ocr_automation_system_spark.functions.sketch import (
        hll_register_table,
    )

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(i, f"text {i % 150}", ["a", "b"][i % 2]) for i in range(400)]
    schema = "doc_id long, text string, source string"
    spark.createDataFrame(rows[:200], schema).write.parquet(
        os.path.join(d, "drop1"))
    spark.createDataFrame(rows[200:], schema).write.parquet(
        os.path.join(d, "drop2"))

    stream_in = spark.readStream.schema(schema).parquet(os.path.join(d, "*"))
    q = (hll_register_table(stream_in)
         .writeStream.format("memory").queryName("hll_regs")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("hll_regs").collect())
    want = sorted(tuple(r) for r in hll_register_table(
        spark.createDataFrame(rows, schema)).collect())
    assert got == want and got


def test_stateless_curation_verdicts_stream_unchanged(spark, tmp_path):
    from ocr_automation_system_spark.functions.curation import (
        curation_verdicts,
    )

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(i, ("the quick brown fox and the lazy dog again " * 6
                 if i % 3 else "zz"), "en") for i in range(30)]
    schema = "doc_id long, text string, lang string"
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "drop1"))
    stream_in = spark.readStream.schema(schema).parquet(os.path.join(d, "*"))
    out = str(tmp_path / "out_verdicts")
    q = (curation_verdicts(stream_in).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck_verdicts"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in curation_verdicts(
        spark.createDataFrame(rows, schema)).collect())
    assert got == want and got


def test_stateless_page_metadata_stream_unchanged(spark, tmp_path):
    from ocr_automation_system_spark.functions.links import page_metadata

    d = str(tmp_path / "in")
    os.makedirs(d)
    html = (b"<html><head><title>T</title></head><body>"
            b'<a href="/x">x</a></body></html>')
    rows = [(f"https://h{i}.com/p", html if i % 3 else b"%PDF junk")
            for i in range(12)]
    schema = "url string, html binary"
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "drop1"))
    stream_in = spark.readStream.schema(schema).parquet(os.path.join(d, "*"))
    out = str(tmp_path / "out_meta")
    q = (page_metadata(stream_in).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck_meta"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in page_metadata(
        spark.createDataFrame(rows, schema)).collect())
    assert got == want and got


def test_stateless_kmeans_assign_stream_unchanged(spark, tmp_path):
    """Centroid ASSIGNMENT is the streaming half of the clustering tier
    (fit runs offline; the fitted centroids score arriving documents as
    a stateless projection)."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions import clustering as KM

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(40)]
    schema = "vec_id long, embedding array<float>"
    batch = spark.createDataFrame(rows, schema)
    cents = KM.kmeans_fit(batch, k=4, iters=2)
    batch.write.parquet(os.path.join(d, "drop1"))
    stream_in = spark.readStream.schema(schema).parquet(os.path.join(d, "*"))
    out = str(tmp_path / "out_cells")
    q = (stream_in.select("vec_id",
                          KM.kmeans_assign(F.col("embedding"), cents)
                          .alias("cell"))
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck_cells"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in batch.select(
        "vec_id", KM.kmeans_assign(F.col("embedding"), cents)
        .alias("cell")).collect())
    assert got == want and got


def test_streaming_incremental_dedup_against_static_index(spark, tmp_path):
    """The streaming form of the monthly-crawl pattern: arriving docs
    (stream) band-join the STATIC stored corpus index — a stream-static
    equi-join, fully supported without watermarks — and verdicts match
    the batch incremental_dedup output exactly."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions import dedup as D
    from ocr_automation_system_spark.functions.dedup import (
        minhash_bands_stateless,
    )
    from ocr_automation_system_spark.functions.text import shingles

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(0, base, "s"), (2, "corpus text about rivers and lakes", "s")],
        "doc_id long, text string, source string")
    idx = str(tmp_path / "idx")
    D.write_dedup_index(corpus, idx)

    new_rows = [(1, base + " today", "s"),
                (3, "novel text about mountains", "s")]
    schema = "doc_id long, text string, source string"
    d = str(tmp_path / "in")
    os.makedirs(d)
    spark.createDataFrame(new_rows, schema).write.parquet(
        os.path.join(d, "drop1"))

    stream_in = spark.readStream.schema(schema).parquet(os.path.join(d, "*"))
    bands = minhash_bands_stateless(stream_in)
    static_idx = spark.read.parquet(os.path.join(idx, "bands"))
    corpus_sh = spark.read.parquet(os.path.join(idx, "shingles"))
    # NOTE: no dropDuplicates on the stream (stateful agg would need a
    # watermark); a multi-band match yields duplicate candidate rows,
    # deduped downstream or accepted per-batch — set-compare below.
    cand = (bands.alias("n")
            .join(static_idx.alias("c"), ["band", "sig"])
            .select(F.col("n.doc_id").alias("new_id"),
                    F.col("c.doc_id").alias("corpus_id")))
    new_sh = stream_in.select(F.col("doc_id").alias("new_id"),
                              shingles("text").alias("sh_n"))
    hits = (cand.join(new_sh, "new_id")
            .join(corpus_sh.select(F.col("doc_id").alias("corpus_id"),
                                   F.col("sh").alias("sh_c")), "corpus_id")
            .filter((F.size(F.array_intersect("sh_n", "sh_c"))
                     / F.size(F.array_union("sh_n", "sh_c"))) >= 0.5)
            .select("new_id", "corpus_id"))
    out = str(tmp_path / "out_inc")
    q = (hits.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck_inc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 0)}  # the near-dup caught, the novel doc not
    # batch path agrees
    batch = {r["doc_id"]: r["keep"] for r in D.incremental_dedup(
        spark.createDataFrame(new_rows, schema), spark, idx,
        threshold=0.5).collect()}
    assert batch == {1: False, 3: True}


def test_simhash_row_matches_aggregate_table(spark):
    """The row-local fold signature must equal the explode->aggregate
    signature bit-for-bit (the property that makes the streaming drift
    monitor exact, not approximate)."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.dedup import simhash_table
    from ocr_automation_system_spark.functions.text import simhash_row

    rows = [(i, f"alpha beta doc{i} " + " ".join(
        f"w{(i * 7 + j) % 23}" for j in range(30))) for i in range(40)]
    rows += [(100, ""), (101, "one"), (102, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hi, lo = simhash_row(F.coalesce(F.col("text"), F.lit("")))
    got = {r["doc_id"]: (r["hi"], r["lo"])
           for r in df.select("doc_id", hi.alias("hi"),
                              lo.alias("lo")).collect()}
    want = {r["doc_id"]: (r["sim_hi"], r["sim_lo"])
            for r in simhash_table(
                df.select("doc_id",
                          F.coalesce("text", F.lit("")).alias("text"))
            ).collect()}
    assert got == want and len(got) == 43


def test_streaming_content_drift_matches_batch(spark, tmp_path):
    """Arriving captures graded against a stored signature snapshot
    reproduce the batch content_drift rows exactly — stream-static
    join + row-local signing, zero streaming state."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.delta import content_drift
    from ocr_automation_system_spark.functions.dedup import simhash_table
    from ocr_automation_system_spark.streaming.stream import (
        streaming_content_drift,
    )

    base = " ".join(f"w{i}" for i in range(80))
    old_rows = [(f"u{i}", base + f" tail{i}") for i in range(12)]
    new_rows = ([(f"u{i}", base + f" tail{i}") for i in range(4)]       # same
                + [(f"u{i}", base + f" tail{i} footer") for i in range(4, 8)]
                + [(f"u{i}", " ".join(f"z{j}" for j in range(80)))
                   for i in range(8, 12)])                               # rewrite
    old = spark.createDataFrame(old_rows, "url string, text string")
    sigs = simhash_table(old, id_col="url", text_col="text") \
        .select(F.col("doc_id").alias("url"), "sim_hi", "sim_lo")

    d = str(tmp_path / "in")
    os.makedirs(d)
    schema = "url string, text string"
    spark.createDataFrame(new_rows, schema).write.parquet(
        os.path.join(d, "drop1"))
    stream_in = spark.readStream.schema(schema).parquet(os.path.join(d, "*"))
    out = str(tmp_path / "out")
    q = (streaming_content_drift(stream_in, sigs)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in content_drift(
        old, spark.createDataFrame(new_rows, schema)).collect())
    assert got == want and len(got) == 12
    grades = {u: g for u, _h, g in got}
    assert grades["u0"] == "identical"
    assert grades["u5"] in ("cosmetic",)
    assert grades["u9"] == "drifted"


def test_streaming_doclen_histogram_matches_batch(spark, tmp_path):
    """The batch length histogram (X79) runs unchanged on a stream: two
    crawl drops aggregated in complete mode equal the batch artifact over
    the union — bounded state (<= 64*HIST_SUBS rows) whatever the
    corpus."""
    import pandas as pd

    from ocr_automation_system_spark.functions.sketch import (
        doclen_histogram,
    )
    from ocr_automation_system_spark.streaming.stream import (
        DOCUMENTS_SCHEMA,
        stream_documents,
    )

    d = str(tmp_path / "drops")
    import os

    os.makedirs(d)
    rows1 = [{"url": f"u{i}", "warc_ts": pd.Timestamp("2026-01-01"),
              "html": b"", "text": "x" * (10 + i), "lang": "en"}
             for i in range(40)]
    rows2 = [{"url": f"v{i}", "warc_ts": pd.Timestamp("2026-01-02"),
              "html": b"", "text": "y" * (500 + 7 * i), "lang": "en"}
             for i in range(40)]
    for i, rows in enumerate((rows1, rows2)):
        df = pd.DataFrame(rows)
        df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
        df.to_parquet(os.path.join(d, f"drop{i}.parquet"))

    hist = doclen_histogram(
        stream_documents(spark, d, max_files_per_trigger=1))
    q = (hist.writeStream.format("memory").queryName("hist_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple,
                     spark.sql("SELECT * FROM hist_stream").collect()))

    batch_docs = spark.createDataFrame(
        pd.concat([pd.DataFrame(rows1), pd.DataFrame(rows2)]),
        DOCUMENTS_SCHEMA)
    want = sorted(map(tuple, doclen_histogram(batch_docs).collect()))
    assert got == want and len(got) > 3


def test_streaming_checksums_match_batch(spark, tmp_path):
    """X100: the batch attestation operator runs unchanged on a stream —
    the triple maintained over two drops in complete mode equals the
    batch checksums over the union, one state row per group forever."""
    import os

    import pandas as pd

    from ocr_automation_system_spark.functions.sketch import (
        source_checksums,
    )
    from ocr_automation_system_spark.streaming.stream import (
        DOCUMENTS_SCHEMA,
        stream_documents,
    )

    d = str(tmp_path / "drops")
    os.makedirs(d)
    mk = lambda i, n: [{"url": f"u{i}-{k}",
                        "warc_ts": pd.Timestamp("2026-01-01"),
                        "html": b"", "text": f"body {i} {k}",
                        "lang": "en" if k % 2 else "de"}
                       for k in range(n)]
    for i in range(2):
        df = pd.DataFrame(mk(i, 30))
        df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
        df.to_parquet(os.path.join(d, f"drop{i}.parquet"))

    q = (source_checksums(
            stream_documents(spark, d, max_files_per_trigger=1),
            id_col="url", group_col="lang")
         .writeStream.format("memory").queryName("cksum_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple,
                     spark.sql("SELECT * FROM cksum_stream").collect()))

    batch_docs = spark.createDataFrame(
        pd.concat([pd.DataFrame(mk(0, 30)), pd.DataFrame(mk(1, 30))]),
        DOCUMENTS_SCHEMA)
    want = sorted(map(tuple, source_checksums(
        batch_docs, id_col="url", group_col="lang").collect()))
    assert got == want and len(got) == 2


def test_streaming_revisit_counters_match_batch(spark, tmp_path):
    """The streaming revisit counters (arriving snapshot stream-static
    joined against the stored previous snapshot, one state row per
    host) in complete mode equal delta.revisit_stats' (n_intervals,
    n_changed) over the equivalent 2-snapshot batch history."""
    import os

    import pandas as pd

    from ocr_automation_system_spark.functions.delta import revisit_stats
    from ocr_automation_system_spark.streaming.stream import (
        streaming_revisit_stats,
    )

    def caps(snap):
        # url k changes at snap 1 iff k % 3 == 0
        return [(f"https://h{k % 4}.com/p{k}",
                 f"v{1 if (snap and k % 3 == 0) else 0}")
                for k in range(24)]

    d = str(tmp_path / "drops")
    os.makedirs(d)
    pd.DataFrame(caps(1), columns=["url", "content_hash"]) \
        .to_parquet(os.path.join(d, "drop.parquet"))
    prev = spark.createDataFrame(caps(0),
                                 "url string, content_hash string")
    arriving = (spark.readStream
                .schema("url string, content_hash string").parquet(d))
    q = (streaming_revisit_stats(arriving, prev)
         .writeStream.format("memory").queryName("revisit_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql(
        "SELECT * FROM revisit_stream").collect()))

    hist = spark.createDataFrame(
        [(u, 0, h) for u, h in caps(0)] + [(u, 1, h) for u, h in caps(1)],
        "url string, snap int, content_hash string")
    want = sorted(map(tuple, revisit_stats(hist).select(
        "host", "n_intervals", "n_changed").collect()))
    assert got == want and len(got) == 4
    assert any(r[2] > 0 for r in got) and any(r[2] < r[1] for r in got)


def test_stateless_winnow_fingerprints_stream_unchanged(spark, tmp_path):
    """winnow_fingerprints is a stateless narrow projection (no global
    distinct — rows are unique by construction), so the SAME function
    body must run under readStream and produce the batch rows: the
    one-definition/two-modes property for the winnow tier. This is what
    lets a live crawl ingest fingerprint new captures record-at-a-time
    against a stored fingerprint index."""
    from ocr_automation_system_spark.functions.curation import (
        winnow_fingerprints,
    )

    d = str(tmp_path / "in")
    os.makedirs(d)
    run = " ".join(f"shared{i}" for i in range(9))
    rows = [(0, "alpha beta " + run + " tail tail2"),
            (1, run + " other words here and more of them"),
            (2, " ".join(["rep"] * 20)),
            (3, ""), (4, None)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(os.path.join(d, "drop1"))

    stream_in = (spark.readStream.schema("doc_id long, text string")
                 .parquet(os.path.join(d, "*")))
    out = str(tmp_path / "out_winnow")
    q = (winnow_fingerprints(stream_in).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck_winnow"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(
        tuple(r)
        for r in winnow_fingerprints(
            spark.createDataFrame(rows, "doc_id long, text string"))
        .collect())
    assert got == want and got


def test_streaming_incremental_winnow_against_static_index(spark,
                                                           tmp_path):
    """Guaranteed-recall streaming dedup: arriving docs are winnow-
    fingerprinted row-locally (stateless — no distinct, no watermark)
    and equi-join the STATIC stored fingerprint index; the matched
    (new_id, corpus_id) pairs aggregate client-side to the exact batch
    incremental_winnow_dedup verdicts."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.curation import (
        incremental_winnow_dedup, winnow_fingerprints,
        write_winnow_index,
    )

    run = " ".join(f"copied{i}" for i in range(9))
    corpus = spark.createDataFrame(
        [(0, "intro words " + run + " outro"),
         (2, "entirely different corpus text about lakes and rivers")],
        "doc_id long, text string")
    idx = str(tmp_path / "widx")
    write_winnow_index(corpus, idx)

    new_rows = [(1, run + " with a new tail"),
                (3, "novel text about mountains and passes")]
    d = str(tmp_path / "in")
    os.makedirs(d)
    spark.createDataFrame(new_rows, "doc_id long, text string") \
        .write.parquet(os.path.join(d, "drop1"))

    stream_in = (spark.readStream.schema("doc_id long, text string")
                 .parquet(os.path.join(d, "*")))
    static_idx = (spark.read.parquet(os.path.join(idx, "fps"))
                  .withColumnRenamed("doc_id", "corpus_id"))
    # NOTE: no distinct on the stream side (stateful agg would need a
    # watermark); multi-fp matches yield duplicate pair rows, deduped
    # in the set-compare below — same convention as the minhash twin.
    hits = (winnow_fingerprints(stream_in)
            .select(F.col("doc_id").alias("new_id"), "fp")
            .join(static_idx, "fp")
            .select("new_id", "corpus_id"))
    out = str(tmp_path / "out_winc")
    q = (hits.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck_winc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 0)}
    # batch path agrees
    batch = {r["doc_id"]: r["keep"] for r in incremental_winnow_dedup(
        spark.createDataFrame(new_rows, "doc_id long, text string"),
        spark, idx, min_shared=1).collect()}
    assert batch == {1: False, 3: True}


def test_stateless_soft404_and_refresh_stream_unchanged(spark, tmp_path):
    """soft404_flags and meta_refresh_targets are pure projections:
    they run under readStream byte-identically to the batch plan (the
    arriving-crawl compliance gate needs no state)."""
    from ocr_automation_system_spark.functions.links import (
        meta_refresh_targets, soft404_flags,
    )

    d = str(tmp_path / "in404")
    os.makedirs(d)
    rows = [
        ("https://a.com/1", b"<html><head><title>404 Not Found</title>"
                            b"</head><body>page not found</body></html>"),
        ("https://a.com/2", b'<html><head><meta http-equiv="refresh" '
                            b'content="0;url=https://a.com/n"></head>'
                            b"<body>r</body></html>"),
        ("https://a.com/3", b"<html><body>fine page content</body></html>"),
        ("https://a.com/4", b"%PDF junk"),
    ]
    schema = "url string, html binary"
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "drop1"))
    stream_in = spark.readStream.schema(schema).parquet(os.path.join(d, "*"))
    for name, fn in (("s404", soft404_flags),
                     ("refresh", meta_refresh_targets)):
        out = str(tmp_path / f"out_{name}")
        q = (fn(stream_in).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(tuple(r) for r in fn(
            spark.createDataFrame(rows, schema)).collect())
        assert got == want and got


def test_stateless_structured_ops_stream_unchanged(spark, tmp_path):
    """The structured-markup parses (html_tables, table_records,
    sitemap_entries, hreflang_edges) are stateless projections: a
    stream of captures yields byte-identical rows to the batch run —
    the shape that lets table/sitemap extraction ride the live
    ingestion stream with zero state."""
    from ocr_automation_system_spark.functions import structured as ST

    d = str(tmp_path / "in")
    os.makedirs(d)
    page = (b"<html><head>"
            b'<link rel="alternate" hreflang="en" href="https://h.com/e">'
            b"</head><body><table><tr><th>A</th></tr>"
            b"<tr><td>1</td></tr></table></body></html>")
    smap = (b'<?xml version="1.0"?><urlset>'
            b"<url><loc>https://h0.com/a</loc>"
            b"<lastmod>2025-01-02</lastmod></url></urlset>")
    rows = [(f"https://h{i}.com/p", page if i % 4 else b"%PDF junk")
            for i in range(12)] + [("https://h0.com/sitemap.xml", smap)]
    schema = "url string, html binary"
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(d, "drop1"))
    for name, fn in (("tables", ST.html_tables),
                     ("records", ST.table_records),
                     ("smap", ST.sitemap_entries),
                     ("alts", ST.hreflang_edges)):
        stream_in = spark.readStream.schema(schema).parquet(
            os.path.join(d, "*"))
        out = str(tmp_path / f"out_{name}")
        q = (fn(stream_in).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(tuple(r) for r in fn(
            spark.createDataFrame(rows, schema)).collect())
        assert got == want and got, name


def test_stateless_gopher_c4_encoding_ops_stream_unchanged(spark, tmp_path):
    """gopher_quality_flags, c4_line_policy and encoding_damage are pure
    column expressions, so the SAME function bodies must run on a
    readStream DataFrame and produce the batch rows — extends the
    one-definition/two-modes property to the round-4 policy tier.
    (gopher_repetition_fracs needs a per-doc census aggregate, so its
    streaming form is the batch operator over micro-batch foreachBatch
    — not a stateless projection; excluded by design.)"""
    from ocr_automation_system_spark.functions import curation as C
    from ocr_automation_system_spark.functions.text import encoding_damage

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(0, "the quick brown fox jumps to be part of that pack " * 8),
            (1, "broken � bytes and mangled cafÃ© here"),
            (2, "One good sentence line right here tonight. " * 6),
            (3, ""), (4, "- bullet\n- bullet\n- bullet")]
    spark.createDataFrame(rows, ["doc_id", "text"]) \
        .write.parquet(os.path.join(d, "drop1"))

    stream_in = (spark.readStream.schema("doc_id long, text string")
                 .parquet(os.path.join(d, "*")))
    for fn, name in ((C.gopher_quality_flags, "gopher"),
                     (C.c4_line_policy, "c4"),
                     (encoding_damage, "enc")):
        out = str(tmp_path / f"out_{name}")
        q = (fn(stream_in).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(
            tuple(r)
            for r in fn(spark.createDataFrame(rows, ["doc_id", "text"]))
            .collect())
        assert got == want, name


def test_stateless_pii_and_script_ops_stream_unchanged(spark, tmp_path):
    """pii_checksum_scrub and mixed_script_words are pure column
    expressions, so the SAME function bodies must run on a readStream
    DataFrame and produce the batch rows — extends the
    one-definition/two-modes property to the X153/X155 tier.
    (registrable_domain broadcast-joins a static dimension; that is the
    stream-static join Structured Streaming supports natively, covered
    by the shape of test_streaming_incremental_dedup_against_static_index.)"""
    from ocr_automation_system_spark.functions.pii import pii_checksum_scrub
    from ocr_automation_system_spark.functions.text import mixed_script_words

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(0, "pay 4111 1111 1111 1111 into GB82WEST12345698765432"),
            (1, "invalid 4111111111111112 and DE89370400440532013001"),
            (2, "login to pаypal or vοte now"),
            (3, ""), (4, "обычный текст beside plain words")]
    spark.createDataFrame(rows, ["doc_id", "text"]) \
        .write.parquet(os.path.join(d, "drop1"))

    stream_in = (spark.readStream.schema("doc_id long, text string")
                 .parquet(os.path.join(d, "*")))
    for fn, name in ((pii_checksum_scrub, "pii"),
                     (mixed_script_words, "script")):
        out = str(tmp_path / f"out_{name}")
        q = (fn(stream_in).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(
            tuple(r)
            for r in fn(spark.createDataFrame(rows, ["doc_id", "text"]))
            .collect())
        assert got == want, name


def test_stateless_readability_slop_stream_unchanged(spark, tmp_path):
    """The X168/X169 censuses are pure column expressions — identical
    rows under readStream (one-definition/two-modes)."""
    from ocr_automation_system_spark.functions.curation import (
        word_blocklist_scores,
    )
    from ocr_automation_system_spark.queries import SLOP_WORDS

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(0, "The cat sat. We delve into the vibrant realm now."),
            (1, ""), (2, "plain words only here")]
    spark.createDataFrame(rows, ["doc_id", "text"]) \
        .write.parquet(os.path.join(d, "drop1"))
    stream_in = (spark.readStream.schema("doc_id long, text string")
                 .parquet(os.path.join(d, "*")))

    def slop(df):
        return word_blocklist_scores(df, words=SLOP_WORDS)

    out = str(tmp_path / "out_slop")
    q = (slop(stream_in).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck_slop"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in
                  slop(spark.createDataFrame(rows, ["doc_id", "text"]))
                  .collect())
    assert got == want


def test_stateless_normalization_ops_stream_unchanged(spark, tmp_path):
    """nfc_stage (Arrow kernel) and fix_encoding depth=2 (codec kernel)
    are row-local, so the SAME bodies must run under readStream and
    produce the batch rows — extends the one-definition/two-modes
    property to the session-7 normalization tier."""
    from ocr_automation_system_spark.functions import curation as C

    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [(0, "plain ascii"),
            (1, "Café decomposed"),          # NFC target
            (2, "cafÃ© once-mangled"),
            (3, "cafÃƒÂ© twice-mangled"),
            (4, None)]
    spark.createDataFrame(rows, ["doc_id", "text"]) \
        .write.parquet(os.path.join(d, "drop1"))
    stream_in = (spark.readStream.schema("doc_id long, text string")
                 .parquet(os.path.join(d, "*")))

    cases = (
        (lambda df: C.nfc_stage(df), "nfc"),
        (lambda df: C.fix_encoding(df, url_col="doc_id", mode="jvm",
                                   depth=2), "fx2"),
    )
    for fn, name in cases:
        out = str(tmp_path / f"out_{name}")
        q = (fn(stream_in).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(
            tuple(r)
            for r in fn(spark.createDataFrame(rows, ["doc_id", "text"]))
            .collect())
        assert got == want, name
