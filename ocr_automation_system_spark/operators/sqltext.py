"""Spark SQL text helpers for the validation stage (adapters, rules,
report).

Those operators build their projections as SQL strings and hand each one
to the JVM in a single ``selectExpr`` / ``F.expr`` call, instead of
assembling ``Column`` trees, where every ``F.*`` call is a py4j round
trip. Two typing rules keep the text equal to the ``F.lit`` form: strings
go through ``sql_str``, and fractional literals carry the ``D`` suffix
(a bare ``0.6`` parses as DECIMAL, ``F.lit(0.6)`` is DOUBLE)."""

from __future__ import annotations


def sql_str(s: str) -> str:
    """A Spark SQL string literal for ``s`` (backslash escapes, as the
    parser reads them with ``spark.sql.parser.escapedStringLiterals``
    off)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def case(whens: list, otherwise: str) -> str:
    """``CASE WHEN c THEN r ... ELSE otherwise END`` over (c, r) pairs."""
    body = " ".join(f"WHEN {cond} THEN {res}" for cond, res in whens)
    return f"CASE {body} ELSE {otherwise} END"


def contains_any(x: str, keywords: list) -> str:
    """True when ``x`` contains any of ``keywords``."""
    return " OR ".join(f"contains({x}, {sql_str(k)})" for k in keywords)


def nz(x: str) -> str:
    """'' for NULL — the validation stage's missing-value convention."""
    return f"coalesce({x}, '')"
