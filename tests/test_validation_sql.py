"""The validation stage (adapters, entity join, rules, report) is built
from Spark SQL text. The rule rows, report and sinks are pinned to the
package's DuckDB twin (``pipeline_sql``) by the registry gate in
``test_entry_contract``; here the three adapters and A1 are pinned to the
twin row for row over committed extractions of the test corpus, the rule
arithmetic to DOUBLE, and the build to its py4j cost: a few hundred JVM
round trips, not the ~14k the former ``Column`` trees took. The entity
build is pinned on hand-built extractions (one doc per doctype and key,
smallest url first; absent docs NULL; empty keys dropped) and to its plan:
one scan, one aggregation, no window and no join."""

import json

import duckdb
import pytest
from pyspark.sql.types import StringType, StructField, StructType

from ocr_automation_system_spark import pipeline_sql as Q
from ocr_automation_system_spark.operators.adapters import (
    adapt_gst, adapt_pan, adapt_udyam, build_entities, name_sql,
)
from ocr_automation_system_spark.operators.extract import extract_documents
from ocr_automation_system_spark.operators.report import entity_report
from ocr_automation_system_spark.operators.rules import run_rules

AS_OF = "2026-01-01"
ADDR = ("pin", "city", "district", "state", "locality")


@pytest.fixture(scope="module")
def committed(spark, corpus_path, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("twin") / "extractions")
    extract_documents(spark.read.parquet(corpus_path)).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def results(spark, committed):
    return spark.read.parquet(committed)


def twin(committed: str, sql: str) -> list:
    con = duckdb.connect()
    try:
        return con.execute(
            sql.replace(Q.TWIN, f"read_parquet('{committed}/*.parquet')")).fetchall()
    finally:
        con.close()


def twin_cte(committed: str, select: str) -> list:
    return twin(committed, f"WITH {Q._ENTITY_CTES} {select}")


def test_pan_adapter_matches_twin(committed, results):
    got = sorted(tuple(r) for r in adapt_pan(results).select(
        "pan_url", "pan", "legal_name", "incorporation_date", "raw_name").collect())
    want = sorted(twin_cte(
        committed, "SELECT pan_url, pan, legal_name, incorporation_date, raw_name FROM pan_a"))
    assert got and got == want


def test_gst_adapter_matches_twin(committed, results):
    got = sorted(
        (r.gst_url, r.legal_name, r.gst_number, r.pan, r.constitution,
         *[r.principal_address[k] for k in ADDR], r.principal_address.full_address,
         r.additional_places, r.raw_name)
        for r in adapt_gst(results).collect())
    want = sorted(twin_cte(committed, (
        "SELECT gst_url, legal_name, gst_number, pan, constitution, "
        + ", ".join(f"g_{k}" for k in ADDR)
        + ", g_full, additional_places, raw_name FROM gst_a")))
    assert got and got == want


def test_udyam_adapter_matches_twin(committed, results):
    got = sorted(
        (r.udyam_url, r.legal_name, r.pan, r.udyam_number, r.incorporation_date,
         r.commencement_date, *[r.registered_address[k] for k in ADDR],
         r.registered_address.full_address, [f.pin for f in r.factory_addresses],
         r.enterprise_type, r.raw_name)
        for r in adapt_udyam(results).collect())
    want = sorted(twin_cte(committed, (
        "SELECT udyam_url, legal_name, pan, udyam_number, incorporation_date, "
        "commencement_date, " + ", ".join(f"u_{k}" for k in ADDR)
        + ", u_full, factory_pins, enterprise_type, raw_name FROM udyam_a")))
    assert got and got == want


def test_name_normalizer_matches_twin_on_prefixes_and_spaces(spark):
    """A1's regexps carry backslashes (``\\s``, ``\\.``) that must reach
    the JVM intact through the SQL string literal; the corpus rarely has
    the doubled spaces and honorifics that would show a lost one."""
    names = ["M/S.  ACME   TRADERS", "shri  Ram Stores", "Messrs. X-Y & Co.",
             "SMT. LATA  DEVI", "  plain   name  ", "SHRINE  FOODS", ""]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = [r[0] for r in df.selectExpr(f"{name_sql('name')} AS n").collect()]
    con = duckdb.connect()
    try:
        want = [con.execute(f"SELECT {Q._norm_name('?')}", [n]).fetchone()[0] for n in names]
    finally:
        con.close()
    assert got[:5] == ["ACME TRADERS", "RAM STORES", "XY CO", "LATA DEVI", "PLAIN NAME"]
    assert got == want


def test_rule_literals_are_double_not_decimal(results):
    """Spark SQL parses a bare ``0.6`` / ``365.25`` as DECIMAL where the
    rule arithmetic is DOUBLE; the analyzer would then cast the integer
    side to decimal."""
    plan = run_rules(build_entities(results))._jdf.queryExecution().analyzed().toString()
    assert "decimal" not in plan.lower()


def test_validation_build_is_few_py4j_calls(results, py4j_calls):
    calls = py4j_calls(lambda: entity_report(
        run_rules(build_entities(results), as_of=AS_OF), generated_at=AS_OF))
    assert 0 < calls < 1000


def _extractions(spark, rows):
    """A results frame of (url, document_type, fields, tables) rows, the
    dicts as the committed json columns."""
    return spark.createDataFrame(
        [(url, doctype, json.dumps(fields), json.dumps(tables))
         for url, doctype, fields, tables in rows],
        "url string, document_type string, fields_json string, tables_json string")


def _doc(doctype, url, pan, name):
    if doctype == "PAN":
        return url, doctype, {"pan": pan, "name": name}, {}
    if doctype == "GST_CERTIFICATE":
        return url, doctype, {"gst_number": f"27{pan}1Z5" if pan else "", "name": name}, {}
    return url, doctype, {"pan": pan, "enterprise_name": name}, {}


def test_entity_build_keeps_smallest_url_per_doctype_and_key(spark):
    """Two docs of one doctype with one PAN: the smaller url wins whatever
    the input order and partitioning, and a url tie falls to the rest of
    the doc."""
    rows = [_doc("PAN", "http://b/2", "ABCDE1234F", "Late Traders"),
            _doc("PAN", "http://a/1", "ABCDE1234F", "Early Traders"),
            _doc("UDYAM", "http://u/1", "ABCDE1234F", "Zeta Works"),
            _doc("UDYAM", "http://u/1", "ABCDE1234F", "Alpha Works")]
    for order in (rows, rows[::-1], rows[1:] + rows[:1]):
        for parts in (1, 3):
            got = build_entities(_extractions(spark, order).repartition(parts)).collect()
            assert [(r.entity_key, r.pan_doc.pan_url, r.pan_doc.legal_name,
                     r.udyam_doc.legal_name) for r in got] == [
                ("ABCDE1234F", "http://a/1", "EARLY TRADERS", "ALPHA WORKS")]


def test_entity_build_absent_docs_are_null(spark):
    rows = [_doc("PAN", "http://p/1", "AAAAA1111A", "Only Pan"),
            _doc("GST_CERTIFICATE", "http://g/1", "BBBBB2222B", "Only Gst"),
            _doc("UDYAM", "http://u/1", "CCCCC3333C", "Only Udyam")]
    got = {r.entity_key: r for r in build_entities(_extractions(spark, rows)).collect()}
    assert sorted(got) == ["AAAAA1111A", "BBBBB2222B", "CCCCC3333C"]
    assert got["AAAAA1111A"].pan_doc.raw_name == "Only Pan"
    assert got["AAAAA1111A"].gst_doc is None and got["AAAAA1111A"].udyam_doc is None
    assert got["BBBBB2222B"].gst_doc.pan == "BBBBB2222B"
    assert got["BBBBB2222B"].pan_doc is None and got["BBBBB2222B"].udyam_doc is None
    assert got["CCCCC3333C"].udyam_doc.factory_addresses == []
    assert got["CCCCC3333C"].pan_doc is None and got["CCCCC3333C"].gst_doc is None


def test_entity_build_drops_empty_keys(spark):
    rows = [_doc("PAN", "http://p/1", "", "No Pan"),
            _doc("GST_CERTIFICATE", "http://g/1", "", "No Gstin"),
            ("http://u/1", "UDYAM", {"enterprise_name": "No Pan Field"}, {}),
            ("http://x/1", "UNKNOWN", {"pan": "DDDDD4444D"}, {}),
            _doc("PAN", "http://p/2", "EEEEE5555E", "Kept")]
    assert [r.entity_key for r in build_entities(_extractions(spark, rows)).collect()] == [
        "EEEEE5555E"]


def test_entity_build_schema_is_the_adapter_structs(spark, results):
    """``entity_key`` plus one nullable struct per doctype whose fields,
    types and nullability are the adapter's own output columns."""
    want = StructType([StructField("entity_key", StringType(), True)] + [
        StructField(doc, adapt(results).schema, True)
        for doc, adapt in (("pan_doc", adapt_pan), ("gst_doc", adapt_gst),
                           ("udyam_doc", adapt_udyam))])
    assert build_entities(results).schema == want


def test_validation_plan_is_one_scan_and_one_aggregation(results, jobs_of, tmp_path):
    """The validation plan reads the extractions once and builds entities
    with one aggregation: no window, no join. Its write and the report's
    run two Spark jobs each (shuffle map stage, then the write)."""
    validation = run_rules(build_entities(results), as_of=AS_OF)
    validation.collect()
    plan = validation._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    nodes = [line.split("[")[0] for line in final.splitlines()]
    assert final.count("Scan parquet") == 1, nodes
    assert not [n for n in nodes if "Window" in n or "Join" in n], nodes
    jobs = jobs_of(lambda: (
        validation.write.parquet(str(tmp_path / "validation")),
        entity_report(validation, generated_at=AS_OF).write.parquet(
            str(tmp_path / "report"))))
    assert jobs <= 4, jobs
