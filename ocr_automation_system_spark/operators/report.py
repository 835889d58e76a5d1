"""Report aggregation (G1-G3 in SURVEY.md §2.7).

The reference's ``ReportGenerator`` (`verification_engine/
report_generator.py:222-265`) computes per-entity summary counters and an
overall-status decision cascade over one entity's rule results. Here it is a
``groupBy(entity_key)`` with conditional-count aggregates (map-side partial
aggregation; shuffle on the entity key only) and the cascade as a ``CASE``
over the aggregates, both as Spark SQL text. ``report_generated_at`` is a
job parameter, not ``datetime.now()`` (determinism, SURVEY.md §7)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rules import CRITICAL, FAIL, PASS, SKIPPED, WARNING
from .sqltext import case, sql_str


def _count_if(cond: str) -> str:
    return f"count(CASE WHEN {cond} THEN 1 END)"


def _sorted_messages(cond: str) -> str:
    return (f"sort_array(collect_list(CASE WHEN {cond} "
            "THEN concat(rule_id, ': ', message) END))")


# G1 counters and G2 lists (`report_generator.py:27-43, 222-251`).
_REPORT_AGGS = [
    ("total_rules", "count(1)"),
    ("passed", _count_if(f"status = '{PASS}'")),
    ("failed", _count_if(f"status = '{FAIL}'")),
    ("warnings", _count_if(f"status = '{WARNING}'")),
    ("skipped", _count_if(f"status = '{SKIPPED}'")),
    ("critical_failures", _count_if(f"status = '{FAIL}' AND severity = '{CRITICAL}'")),
    ("matches", _sorted_messages(f"status = '{PASS}'")),
    ("mismatches", _sorted_messages(f"status IN ('{FAIL}', '{WARNING}')")),
]

_OVERALL = case([
    ("critical_failures > 0", "'FAILED (Critical issues found)'"),
    ("failed > 0", "'FAILED'"),
    ("warnings > 0", "'PASSED WITH WARNINGS'"),
], "'PASSED'")

_PASS_RATE = case([
    ("total_rules > 0", "concat(format_number(passed / total_rules * 100, 1), '%')"),
], "'N/A'")


def entity_report(validation_results: DataFrame, generated_at: str = "") -> DataFrame:
    """G1+G2: per-entity summary + matches/mismatches lists.

    ``matches``/``mismatches`` mirror the PASS vs FAIL|WARNING partition of
    `report_generator.py:27-43`, collected as sorted arrays of
    "RULE_ID: message" strings for determinism. The aggregates and the
    status cascade are SQL text, one py4j call each."""
    extra = [f"{sql_str(generated_at)} AS report_generated_at"] if generated_at else []
    return (
        validation_results.groupBy("entity_key")
        .agg(*[F.expr(f"{sql} AS {name}") for name, sql in _REPORT_AGGS])
        .selectExpr("*", f"{_OVERALL} AS overall_status",
                    f"{_PASS_RATE} AS pass_rate", *extra)
    )


def entity_info(entities: DataFrame) -> DataFrame:
    """G3 (`report_generator.py:253-265`): report header — first non-null
    raw name across docs + key ids, 'N/A' convention preserved."""
    c = F.col

    def nz(col):
        return F.coalesce(F.nullif(col, F.lit("")), F.lit("N/A"))

    return entities.select(
        "entity_key",
        nz(F.coalesce(c("pan_doc.raw_name"), c("gst_doc.raw_name"), c("udyam_doc.raw_name")))
            .alias("name"),
        nz(c("pan_doc.pan")).alias("pan"),
        nz(c("gst_doc.gst_number")).alias("gst_number"),
        nz(c("udyam_doc.udyam_number")).alias("udyam_number"),
        nz(c("udyam_doc.incorporation_date")).alias("incorporation_date"),
    )


def format_report(report_row, entity_row=None) -> str:
    """S6 console sink (`report_generator.py:148-220`): pretty-print ONE
    collected entity-report row. Driver-side presentation over an already-
    aggregated row — never a data-plane operator (SURVEY.md §2.1)."""
    r = report_row.asDict() if hasattr(report_row, "asDict") else dict(report_row)
    lines = ["=" * 60, "CROSS-DOCUMENT VERIFICATION REPORT", "=" * 60]
    if entity_row is not None:
        e = entity_row.asDict() if hasattr(entity_row, "asDict") else dict(entity_row)
        lines += [f"Entity: {e.get('name', 'N/A')}",
                  f"PAN: {e.get('pan', 'N/A')}  GSTIN: {e.get('gst_number', 'N/A')}  "
                  f"Udyam: {e.get('udyam_number', 'N/A')}", "-" * 60]
    lines += [
        f"Overall: {r['overall_status']}   Pass rate: {r['pass_rate']}",
        f"Rules: {r['total_rules']}  PASS={r['passed']}  FAIL={r['failed']}  "
        f"WARN={r['warnings']}  SKIP={r['skipped']}  "
        f"critical_failures={r['critical_failures']}",
    ]
    for title, key in (("MISMATCHES", "mismatches"), ("MATCHES", "matches")):
        items = [m for m in (r.get(key) or []) if m]
        if items:
            lines.append(f"--- {title} ---")
            lines += [f"  * {m}" for m in items]
    lines.append("=" * 60)
    return "\n".join(lines)


