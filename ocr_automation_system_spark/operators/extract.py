"""The extraction operator: documents scan -> per-url extraction records.

Spark lifecycle equivalent of reference EP1/EP2 (SURVEY.md §3): Iceberg/
parquet scan -> one ``mapInPandas`` pass whose batches wrap the *oracle
functions*. The whole stage is narrow (zero shuffles), so extraction
throughput scales linearly with executors — the property the 2-cluster-size
efficiency metric measures.

Why one pass: ``oracle.doctype.extract_document`` routes each row on its
``%PDF`` magic, and the expensive OCR model is a lazy per-worker singleton
(``oracle.ocr_stub.get_model``) that reused Python workers keep across tasks,
so the reference's deferred OCR import (`core/extractor.py:59-78`) costs one
model build per worker that meets a scanned PDF. Splitting the scan into
per-leg filtered passes would only read the payload column twice and double
the tasks and the files written.

Exception isolation: ``oracle.doctype.extract_document`` is total — poison
rows come back as ``doc_status='poison'`` rows, a thrown error never kills a
task (`verification_engine/engine.py:105-114` contract).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, StringType,
    StructField, StructType,
)

from ..oracle.doctype import extract_document
from ..oracle.pdf_stub import PDF_MAGIC

# Fixed result schema (SURVEY.md §1.2: dynamic dicts -> nullable StructType;
# absence becomes NULL/empty and missing_fields carries the accounting).
EXTRACTION_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("doc_status", StringType(), False),
    StructField("source_leg", StringType(), False),
    StructField("document_type", StringType(), False),
    StructField("extracted_text", StringType(), False),
    StructField("fields_json", StringType(), False),
    StructField("tables_json", StringType(), False),
    StructField("missing_fields", ArrayType(StringType(), False), False),
    StructField("entity_pan", StringType(), False),
    StructField("entity_gstin", StringType(), False),
    StructField("entity_udyam", StringType(), False),
    StructField("entity_name", StringType(), False),
    StructField("entity_date", StringType(), False),
    StructField("entity_pin", StringType(), False),
    StructField("blocks_kept", IntegerType(), False),
    StructField("blocks_dropped", IntegerType(), False),
    StructField("error", StringType(), False),
])

_RESULT_COLUMNS = [f.name for f in EXTRACTION_SCHEMA.fields]


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: one Arrow batch of (url, html) -> extraction rows.

    Pure per-row Python work happens here, vectorized at the transfer layer
    (Arrow batches, bounded by ``arrow.maxRecordsPerBatch`` so big BINARY
    payloads fit worker memory — SURVEY.md §4 explicit-engineering item 2).
    """
    for batch in batches:
        urls = batch["url"].tolist()
        payloads = batch["html"].tolist()
        records = [extract_document(u, p) for u, p in zip(urls, payloads)]
        yield pd.DataFrame.from_records(records, columns=_RESULT_COLUMNS)


def is_pdf_payload_col(col="html"):
    """JVM-side byte test: BINARY payload starts with the %PDF magic."""
    return F.substring(F.col(col), 1, len(PDF_MAGIC)) == F.lit(PDF_MAGIC)


def extract_documents(documents: DataFrame) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) -> extraction records, batch
    or streaming (``ensure_parallelism`` leaves a stream as it is)."""
    from ..functions.util import ensure_parallelism

    # Split-starved local inputs (one parquet row group) would pin the whole
    # mapInPandas pass to one core; at production scale the Iceberg scan has
    # >> cores splits and this is a no-op.
    source = ensure_parallelism(documents.select("url", "html"))
    return source.mapInPandas(_extract_batches, schema=EXTRACTION_SCHEMA)


#: Per-block scoring rows — the Readability/Boilerpipe decision surface
#: (SURVEY.md §2.1 S1; oracle: ``oracle.html_extract.block_records``).
BLOCK_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("block_idx", IntegerType(), False),
    StructField("n_lines", IntegerType(), False),
    StructField("n_chars", IntegerType(), False),
    StructField("link_chars", IntegerType(), False),
    StructField("link_density", DoubleType(), False),
    StructField("boilerplate", BooleanType(), False),
    StructField("kept", BooleanType(), False),
    StructField("text_md5", StringType(), False),
])

_BLOCK_COLUMNS = [f.name for f in BLOCK_SCHEMA.fields]


def _block_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..oracle.html_extract import block_records

    for batch in batches:
        recs: list = []
        for u, p in zip(batch["url"].tolist(), batch["html"].tolist()):
            recs.extend(block_records(u, p))
        df = pd.DataFrame.from_records(recs, columns=_BLOCK_COLUMNS)
        for c in ("block_idx", "n_lines", "n_chars", "link_chars"):
            df[c] = df[c].astype("int32")
        df["link_density"] = df["link_density"].astype("float64")
        for c in ("boilerplate", "kept"):
            df[c] = df[c].astype("bool")
        yield df


def block_scores(documents: DataFrame) -> DataFrame:
    """documents(url, html, ...) -> one scored row per HTML block.

    The HTML-leg gate (non-PDF, non-empty payload) is a JVM byte predicate
    pushed to the scan; the block parser runs in Arrow-batched Python over
    the surviving rows. Narrow end to end — no shuffle; at 10^12 pages
    this is the debuggable audit trail of every keep/drop decision the
    extractor made (write it partitioned next to the extractions).
    """
    from ..functions.util import ensure_parallelism

    is_pdf = is_pdf_payload_col("html")
    source = ensure_parallelism(
        documents.select("url", "html")
        .filter(~F.coalesce(is_pdf, F.lit(False)) & (F.length("html") > 0)))
    return source.mapInPandas(_block_batches, schema=BLOCK_SCHEMA)


def extraction_metrics_by_leg(results: DataFrame) -> DataFrame:
    """G5 (deterministic form): extraction-metric counters grouped by
    (source_leg, doc_status) — partitioning-independent, so the DuckDB
    oracle twin can hash-check it (`pipeline_sql.SQL_PIPELINE_LINEAGE_METRICS`).
    The production job's per-bucket counters are observed on its commit
    write instead (`plans/resume.py`)."""
    return (
        results.groupBy("source_leg", "doc_status")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("blocks_kept").alias("blocks_kept"),
            F.sum("blocks_dropped").alias("blocks_dropped"),
            F.sum(F.size("missing_fields")).alias("missing_field_hits"),
        )
    )

