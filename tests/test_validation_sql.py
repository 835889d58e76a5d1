"""The validation stage (adapters, entity join, rules, report) is built
from Spark SQL text. The rule rows, report and sinks are pinned to the
package's DuckDB twin (``pipeline_sql``) by the registry gate in
``test_entry_contract``; here the three adapters and A1 are pinned to the
twin row for row over committed extractions of the test corpus, the rule
arithmetic to DOUBLE, and the build to its py4j cost: a few hundred JVM
round trips, not the ~14k the former ``Column`` trees took."""

import duckdb
import py4j.clientserver
import pytest

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


def test_validation_build_is_few_py4j_calls(results, monkeypatch):
    calls = [0]
    send = py4j.clientserver.JavaClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.JavaClient, "send_command", counting)
    entity_report(run_rules(build_entities(results), as_of=AS_OF), generated_at=AS_OF)
    assert 0 < calls[0] < 1000
