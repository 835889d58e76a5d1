"""ocr_automation_system_spark — a from-scratch PySpark-native main-content
extraction + validation engine.

Re-expresses the semantics of the reference
``ready2upgrade-solutions/OCR-automation-system`` (a single-node Python OCR
document-extraction + rule-validation stack, see ``/root/reference``) as an
idiomatic Spark pipeline over a Common-Crawl-style ``documents`` table
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``:

* ``oracle/``    — pure-Python single-node reference implementation of every
                   golden-affecting transform (HTML boilerplate strip, PDF
                   parse, per-doctype field extraction). The Spark pipeline
                   wraps the *same functions* in vectorized pandas UDFs, so
                   extracted text is byte-identical per url by construction.
* ``functions/`` — JVM-side column expressions ([B] operators in SURVEY.md §2)
                   plus dedup/similarity/text-statistics primitives.
* ``operators/`` — Spark operators: one-pass extraction (`mapInPandas`),
                   adapters, validation-rule join stages, report aggregation,
                   dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
                   similarity search, text analysis.
* ``sources/``   — table catalog (parquet locally, Iceberg-ready layout).
* ``plans/``     — end-to-end pipeline assembly.
* ``streaming/`` — resumable partitioned execution (lineage + checkpoint
                   manifest) and the Structured Streaming leg.

Design rules (SURVEY.md §4, §7): DataFrame-declarative everywhere, Arrow-
vectorized pandas UDFs only (never per-row Python UDFs), a lazily built
per-worker model for the expensive fallback leg, exception isolation inside
UDFs (a poison row costs one row, not a task), explicit partitioning + AQE +
salting for skew.
"""

__version__ = "0.1.0"
