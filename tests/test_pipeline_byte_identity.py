"""The north-rule invariant (SURVEY.md §5.1): the Spark pipeline's extracted
text and fields must be byte-identical per url to the single-node oracle over
the deterministic synthetic corpus."""

import pandas as pd

from ocr_automation_system_spark.corpus import generate_rows
from ocr_automation_system_spark.operators.extract import (
    extract_documents, extraction_metrics_by_leg,
)
from ocr_automation_system_spark.oracle.doctype import extract_document


def _oracle_frame(rows):
    recs = [extract_document(r["url"], r["html"]) for r in rows]
    return pd.DataFrame.from_records(recs).set_index("url").sort_index()


def test_byte_identity(spark, corpus_path):
    documents = spark.read.parquet(corpus_path)
    got = extract_documents(documents).toPandas().set_index("url").sort_index()

    rows = generate_rows(300, 42)
    want = _oracle_frame(rows)

    assert list(got.index) == list(want.index)
    for col in ("extracted_text", "fields_json", "document_type", "doc_status",
                "source_leg", "entity_pan", "entity_gstin", "entity_name",
                "entity_pin", "entity_date"):
        mismatch = got[col] != want[col]
        assert not mismatch.any(), (
            f"{col}: {mismatch.sum()} urls differ; first: "
            f"{got[mismatch].index[0]!r}\nspark={got[col][mismatch].iloc[0]!r}\n"
            f"oracle={want[col][mismatch].iloc[0]!r}"
        )
    # arrays compare element-wise
    for u in got.index:
        assert list(got.loc[u, "missing_fields"]) == list(want.loc[u, "missing_fields"])


def test_extraction_covers_all_statuses(spark, corpus_path):
    documents = spark.read.parquet(corpus_path)
    results = extract_documents(documents)
    stats = {r["doc_status"]: r["n"] for r in
             results.groupBy("doc_status").agg(
                 __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
             ).collect()}
    assert stats.get("ok", 0) > 200
    assert stats.get("unusable", 0) > 0  # junk + corrupt rows exercised


def test_extraction_is_one_pass_over_one_scan(spark, corpus_path):
    """Every row goes through one mapInPandas over one scan of the
    documents: the oracle routes HTML/PDF/OCR per row, so no leg filter,
    second pass or union appears in the executed plan."""
    plan = (extract_documents(spark.read.parquet(corpus_path))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_metrics_totals(spark, corpus_path):
    documents = spark.read.parquet(corpus_path)
    results = extract_documents(documents)
    m = extraction_metrics_by_leg(results).toPandas()
    assert int(m["docs"].sum()) == 300
    assert int(m.loc[m["source_leg"] == "pdf", "docs"].sum()) > 0
