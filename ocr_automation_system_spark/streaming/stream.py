"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.10) and the north rule is a
resumable batch job — but a production corpus grows continuously, so the
engine exposes streaming twins of its batch operators:

* ``stream_documents`` — file-source stream over a documents directory
  (new parquet drops = new WARC crawls), fed to the SAME batch operator
  ``operators.extract.extract_documents``: one stateless ``mapInPandas``
  pass, because the oracle routes each row to its HTML/PDF/OCR leg and the
  OCR model builds lazily once per reused worker — nothing needs a
  per-leg filter or union. Checkpointing gives exactly-once sink
  semantics, the streaming analogue of the batch bucket manifest
  (plans/resume.py).
* ``windowed_event_counts`` — watermarked tumbling-window aggregation over
  an event stream (twin of ``functions.windows.tumbling_window_agg``);
  late rows beyond the watermark are dropped instead of recomputing
  closed windows.
* ``sessionize_stream`` — session windows via the built-in
  ``session_window`` operator (gap-based), the streaming twin of the
  lag/cumsum batch sessionizer.

A batch operator whose plan is already stream-legal gets no twin here: it
runs on the stream as it is, as ``extract_documents`` does, and so do
``sketch.doclen_histogram`` and ``sketch.source_checksums`` (bounded-key
groupBys, run with update/complete output). The twins in this module
exist where the streaming form differs from the batch plan: watermarked
state, session windows, stream-static joins.

All transformations are the shared batch column expressions — one
definition, two execution modes — which is exactly why the engine is
DataFrame-first."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENTS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_documents(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 4) -> DataFrame:
    """File-source document stream: each micro-batch is a set of newly
    landed parquet files (a crawl drop)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def write_extraction_stream(results: DataFrame, output_dir: str,
                            checkpoint_dir: str):
    """Exactly-once parquet sink: the checkpoint tracks committed source
    files the way the batch manifest tracks committed buckets."""
    return (
        results.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(documents: DataFrame,
                    watermark_col: str = "warc_ts",
                    delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival of each content
    hash, drop re-crawls — the streaming twin of ``dedup.dedup_exact``.

    ``dropDuplicatesWithinWatermark`` on the md5 content key bounds the
    dedup state by the watermark horizon (state for a hash is dropped
    once the watermark passes its event time + delay), so the operator
    never accumulates unbounded per-key state the way a plain
    dropDuplicates would on an infinite stream. Web-crawl semantics fit:
    a re-crawl of the same page arrives within a bounded interval of the
    original, and cross-horizon dups are the batch ladder's job
    (``dedup_cluster_keep`` over the accumulated table)."""
    from ..functions.text import content_hash

    return (
        documents
        # coalesce: md5(NULL) is NULL and a NULL dedup key would collapse
        # every null-text row into one; empty-string rows hash normally
        .withColumn("_ch", content_hash(F.coalesce(F.col("text"), F.lit(""))))
        .withWatermark(watermark_col, delay)
        .dropDuplicatesWithinWatermark(["_ch"])
        .drop("_ch")
    )


def windowed_event_counts(events: DataFrame, window: str = "1 day",
                          watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event_type. State for a
    window is dropped once the watermark passes its end — bounded state at
    unbounded input, the streaming requirement batch never has."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,8)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


HOST_STATE_SCHEMA = "n_docs long, n_ok long, n_unusable long"
HOST_OUTPUT_SCHEMA = ("host string, n_docs long, n_ok long, n_unusable long, "
                      "unusable_ratio double")


def host_quality_monitor(extraction_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-host
    running extraction-quality counters over the document stream.

    A crawl-quality circuit breaker is the canonical stateful need the
    built-in windowed aggs can't express: state must accumulate FOREVER
    per host (no window close), emitting an updated quality row per
    micro-batch. State is one tiny counter struct per host — bounded by
    host cardinality, not stream length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, batches, state):
        n_docs = n_ok = n_unusable = 0
        if state.exists:
            n_docs, n_ok, n_unusable = state.get
        for pdf in batches:
            n_docs += len(pdf)
            n_ok += int((pdf["doc_status"] == "ok").sum())
            n_unusable += int((pdf["doc_status"] == "unusable").sum())
        state.update((n_docs, n_ok, n_unusable))
        yield pd.DataFrame([{
            "host": key[0], "n_docs": n_docs, "n_ok": n_ok,
            "n_unusable": n_unusable,
            "unusable_ratio": round(n_unusable / n_docs, 6) if n_docs else 0.0,
        }])

    with_host = extraction_stream.withColumn(
        "host", F.regexp_extract("url", r"https://([^/]+)/", 1))
    return (
        with_host.groupBy("host")
        .applyInPandasWithState(
            update,
            outputStructType=HOST_OUTPUT_SCHEMA,
            stateStructType=HOST_STATE_SCHEMA,
            # append: emitted rows are treated as final (required by
            # file sinks); the function emits one running-total row per
            # (host, micro-batch), so downstream readers take the row with
            # the max n_docs per host as current.
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Session windows per user via the native session_window operator."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,8)")).cast("double").alias("session_value"),
        )
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events", "session_value")
    )


def streaming_content_drift(captures: DataFrame, signatures: DataFrame,
                            id_col: str = "url", text_col: str = "text",
                            cosmetic_bits: int = 3) -> DataFrame:
    """Streaming twin of ``delta.content_drift``: arriving captures are
    signed ROW-LOCALLY (``text.simhash_row`` — one fold, no aggregation,
    so the plan stays legal under readStream) and stream-static joined
    against the STORED signature snapshot ``signatures``
    (key, sim_hi, sim_lo — the same table the batch near-dup tier
    persists with each crawl). Emits (key, hamming, drift[, passthrough
    cols]) per arriving capture: the live recrawl-scheduler feed, with
    zero streaming state — the static side broadcasts/rescans per
    micro-batch."""
    from ..functions.text import simhash_row

    hi, lo = simhash_row(F.coalesce(F.col(text_col), F.lit("")))
    new = captures.withColumn("_hi_n", hi).withColumn("_lo_n", lo)
    old = signatures.select(F.col(id_col),
                            F.col("sim_hi").alias("_hi_o"),
                            F.col("sim_lo").alias("_lo_o"))
    ham = (F.bit_count(F.col("_hi_n").bitwiseXOR(F.col("_hi_o")))
           + F.bit_count(F.col("_lo_n").bitwiseXOR(F.col("_lo_o"))))
    return (new.join(old, id_col)
            .select(F.col(id_col),
                    ham.cast("int").alias("hamming"),
                    F.when(ham == 0, F.lit("identical"))
                    .when(ham <= cosmetic_bits, F.lit("cosmetic"))
                    .otherwise(F.lit("drifted")).alias("drift")))


def streaming_revisit_stats(captures: DataFrame, previous: DataFrame,
                            url_col: str = "url",
                            hash_col: str = "content_hash") -> DataFrame:
    """Streaming twin of ``delta.revisit_stats``: as a new crawl drop
    arrives, each capture stream-static joins the STORED previous
    snapshot's (url, content_hash) table and the per-host revisit
    counters aggregate live — state is one row per host forever
    (count + conditional sum, both order-independent streaming-legal
    aggregates). Emits (host, n_intervals, n_changed) running totals
    under update/complete output; these SUM-merge with any stored
    batch counters (so the revisit ladder never recomputes history),
    and the bucket/fraction readout stays a cheap batch projection
    over the merged counters (``delta.revisit_stats``'s tail)."""
    from ..functions.delta import url_host

    new = captures.select(F.col(url_col).alias("url"),
                          F.col(hash_col).alias("_hn"))
    old = previous.select(F.col(url_col).alias("url"),
                          F.col(hash_col).alias("_ho"))
    j = new.join(old, "url")
    return (j.groupBy(url_host(F.col("url")).alias("host"))
            .agg(F.count(F.lit(1)).alias("n_intervals"),
                 F.sum((F.col("_hn") != F.col("_ho")).cast("long"))
                 .cast("long").alias("n_changed")))
