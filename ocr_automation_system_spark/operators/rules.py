"""Cross-document validation rules R1-R12 (SURVEY.md §2.6).

The reference runs 12 reflection-discovered rule classes sequentially over
one in-memory entity (`verification_engine/engine.py:73-116`,
`rules/*.py`). Here the registry is *data*: each rule is a Spark SQL
``CASE`` over the joined entity row that yields a ``struct(status,
message)``, and the whole rule set is three projections + ``inline`` — a
single narrow stage over the A8 entity join, whole-stage codegen end to
end, no Python.

The rules are SQL text, not ``Column`` trees, because of where the time
went: every ``F.*`` / ``Column`` call is a py4j round trip to the JVM, and
building the rule set node by node took ~8.5k of them, ~2 s of driver time
per crawl job on a 4-vCPU VM. As text, each projection reaches the JVM in
one ``selectExpr`` call and ``run_rules`` costs ~40 round trips. Shared
sub-expressions (R6's field score, R9's inferred constitution, R11's
parsed date) are bound once in a first projection, and each rule's CASE
is evaluated once into its own column, which the output rows then read.

Literal typing matches the former ``F.lit`` form (``sqltext``): R6's
``0.6D`` and R11's ``365.25D`` keep that arithmetic DOUBLE, where a bare
``0.6`` would parse as DECIMAL and make the analyzer cast the integer side
to decimal.

Skip semantics mirror ``BaseRule.has_required_data`` + per-rule field guards
(`rules/base_rule.py:115-135`): missing doc or missing field -> SKIPPED, so
a rule can never fail for absent data. ``stop_on_critical_fail`` sequential
short-circuiting does not distribute; the reference default is False
(`config.py:26`) and we preserve that default (SURVEY.md §3 EP3 note).

Config filtering (F8, `engine.py:84-92`): disabled rule ids and the severity
threshold drop rules from the registry before the projection is built."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .sqltext import case, contains_any, nz, sql_str

PASS, FAIL, WARNING, SKIPPED = "PASS", "FAIL", "WARNING", "SKIPPED"
CRITICAL, WARN_SEV, INFO = "CRITICAL", "WARNING", "INFO"

# INFO < WARNING < CRITICAL (`config.py:43-45`).
SEVERITY_RANK = {INFO: 0, WARN_SEV: 1, CRITICAL: 2}


def _res(status: str, message: str) -> str:
    """``message`` is SQL; ``status`` a plain word."""
    return f"named_struct('status', {sql_str(status)}, 'message', {message})"


def _skip(reason: str) -> str:
    return _res(SKIPPED, sql_str(f"Skipped: {reason}"))


def _empty(x: str) -> str:
    return f"({x} IS NULL OR trim({x}) = '')"


def _either_missing(a_doc: str, b_doc: str) -> str:
    return f"({a_doc} IS NULL OR {b_doc} IS NULL)"


def _name_equality_rule(a_doc: str, b_doc: str, a_label: str, b_label: str) -> str:
    """R1-R3 shape (`name_rules.py:11-146`): equality of A1-normalized
    names with doc-missing and field-missing skip guards."""
    a_name, b_name = f"{a_doc}.legal_name", f"{b_doc}.legal_name"
    return case([
        (_either_missing(a_doc, b_doc), _skip(f"Missing {a_label} or {b_label} data")),
        (f"{_empty(a_name)} OR {_empty(b_name)}",
         _skip("Name field missing in one or both documents")),
        (f"{a_name} = {b_name}",
         _res(PASS, sql_str(f"{a_label} name matches {b_label} name"))),
    ], _res(FAIL, sql_str(f"{a_label} name does NOT match {b_label} name")))


def _pan_equality_rule(a_doc: str, b_doc: str, a_label: str, b_label: str) -> str:
    """R4/R5 shape (`pan_rules.py`): PAN equality; for GST the compared key
    is the GSTIN-derived PAN (P10, pre-derived in A6)."""
    a_pan, b_pan = f"{a_doc}.pan", f"{b_doc}.pan"
    return case([
        (_either_missing(a_doc, b_doc), _skip(f"Missing {a_label} or {b_label} data")),
        (f"{_empty(a_pan)} OR {_empty(b_pan)}",
         _skip("PAN missing in one or both documents")),
        (f"{a_pan} = {b_pan}", _res(PASS, f"concat('PAN matches: ', {a_pan})")),
    ], _res(FAIL, sql_str(f"{a_label} PAN does NOT match {b_label}")))


_ADDR_FIELDS = ("pin", "city", "district", "state", "locality")


def _addr_val(addr: str, field: str) -> str:
    return f"upper(trim({nz(f'{addr}.{field}')}))"


def _address_score_lets() -> list:
    """R6's field score and its maximum, bound once: max_score counts
    fields where at least one side is non-empty, score the fields where
    both are non-empty and equal."""
    pairs = [(_addr_val("gst_doc.principal_address", f),
              _addr_val("udyam_doc.registered_address", f)) for f in _ADDR_FIELDS]
    score = " + ".join(
        f"CASE WHEN {a} != '' AND {b} != '' AND {a} = {b} THEN 1 ELSE 0 END"
        for a, b in pairs)
    max_score = " + ".join(
        f"CASE WHEN {a} != '' OR {b} != '' THEN 1 ELSE 0 END" for a, b in pairs)
    return [("_addr_score", score), ("_addr_max", max_score)]


def _address_score_rule() -> str:
    """R6 (`address_rules.py:12-85`): field-by-field score over
    [pin, city, district, state, locality]; PASS if score==max, WARNING
    if >=60%, FAIL otherwise."""
    gst_addr, ud_addr = "gst_doc.principal_address", "udyam_doc.registered_address"
    addr_missing = (f"{gst_addr} IS NULL OR {gst_addr}.full_address = '' "
                    f"OR {ud_addr} IS NULL OR {ud_addr}.full_address = ''")
    score_msg = ("concat('Address field match ', CAST(_addr_score AS STRING), "
                 "'/', CAST(_addr_max AS STRING))")
    return case([
        (_either_missing("gst_doc", "udyam_doc"), _skip("Missing GST or Udyam data")),
        (addr_missing, _skip("Address data missing from one or both documents")),
        ("_addr_score = _addr_max",
         _res(PASS, sql_str("GST principal address matches Udyam registered office"))),
        ("_addr_score >= _addr_max * 0.6D", _res(WARNING, score_msg)),
    ], _res(FAIL, score_msg))


def _pin_match_rule() -> str:
    """R7 (`address_rules.py:88-129`)."""
    gst_pin = f"trim({nz('gst_doc.principal_address.pin')})"
    ud_pin = f"trim({nz('udyam_doc.registered_address.pin')})"
    return case([
        (_either_missing("gst_doc", "udyam_doc"), _skip("Missing GST or Udyam data")),
        (f"{gst_pin} = '' OR {ud_pin} = ''",
         _skip("PIN code missing from one or both documents")),
        (f"{gst_pin} = {ud_pin}", _res(PASS, f"concat('PIN codes match: ', {gst_pin})")),
    ], _res(FAIL, sql_str("PIN codes do NOT match")))


def _factory_containment_rule() -> str:
    """R8 (`address_rules.py:132-191`): containment semi-join — any Udyam
    factory PIN substring-contained in the GST additional-places string.
    ``exists`` over the factory array keeps it row-local (no explode/shuffle
    needed because factories are already nested per entity)."""
    gst_additional = nz("gst_doc.additional_places")
    factories = "udyam_doc.factory_addresses"
    any_match = (f"exists({factories}, fac -> fac.pin != '' "
                 f"AND contains(upper({gst_additional}), fac.pin))")
    return case([
        (_either_missing("gst_doc", "udyam_doc"), _skip("Missing GST or Udyam data")),
        (f"{_empty(gst_additional)} OR {gst_additional} = 'NA'",
         _skip("No additional places in GST")),
        (f"{factories} IS NULL OR size({factories}) = 0",
         _skip("No factory/unit addresses in Udyam")),
        (any_match, _res(PASS, sql_str("Found matching factory address(es) by PIN"))),
    ], _res(WARNING, sql_str(
        "Could not match GST additional places with Udyam factory addresses")))


_INFER_CHAIN = [
    ("PRIVATE LIMITED", ["PRIVATE LIMITED", "PVT LTD", "PVT. LTD.", "PRIVATE LTD"]),
    ("PUBLIC LIMITED", ["PUBLIC LIMITED", "PUBLIC LTD"]),
    ("LLP", ["LLP", "LIMITED LIABILITY PARTNERSHIP"]),
    ("PARTNERSHIP", ["PARTNERSHIP"]),
]


def _infer_constitution_from_name(name: str) -> str:
    """R9 inference table (`constitution_rules.py:68-88`): 4 ordered
    keyword groups over the uppercased name; '' when uninferable."""
    up = f"upper({nz(name)})"
    return case([(contains_any(up, kws), sql_str(canon)) for canon, kws in _INFER_CHAIN],
                 "''")


def _constitution_lets() -> list:
    return [("_inferred", _infer_constitution_from_name(
        "coalesce(nullif(udyam_doc.raw_name, ''), udyam_doc.legal_name)"))]


def _constitution_rule() -> str:
    """R9 (`constitution_rules.py:11-88`): GST constitution vs constitution
    inferred from the Udyam raw name; PASS-with-caveat when uninferable."""
    gst_const = nz("gst_doc.constitution")
    return case([
        (_either_missing("gst_doc", "udyam_doc"), _skip("Missing GST or Udyam data")),
        (f"{gst_const} = ''", _skip("Constitution missing from GST certificate")),
        ("_inferred = ''", _res(PASS, sql_str(
            "Could not infer constitution from Udyam name (check manually)"))),
        (f"{gst_const} = _inferred",
         _res(PASS, f"concat('Constitution match: ', {gst_const})")),
    ], _res(WARNING, "concat(" + ", ".join([
        sql_str("Constitution may not match: GST='"), gst_const,
        sql_str("' vs inferred='"), "_inferred", sql_str("'")]) + ")"))


_UD_DATE = nz("udyam_doc.incorporation_date")


def _incorporation_date_rule() -> str:
    """R10 (`date_rules.py:12-53`): date-string equality with per-field skips."""
    pan_date, ud_date = nz("pan_doc.incorporation_date"), _UD_DATE
    return case([
        (_either_missing("pan_doc", "udyam_doc"), _skip("Missing PAN or Udyam data")),
        (f"{pan_date} = ''", _skip("Incorporation date missing from PAN")),
        (f"{ud_date} = ''", _skip("Incorporation date missing from Udyam")),
        (f"{pan_date} = {ud_date}",
         _res(PASS, f"concat('Incorporation dates match: ', {pan_date})")),
    ], _res(FAIL, sql_str("Incorporation dates do NOT match")))


def _entity_age_lets(as_of: str) -> list:
    """R11's parsed Udyam date and age in years, bound once (``365.25D``:
    a DOUBLE division, as in the former ``F.lit(365.25)``)."""
    parsed = f"CAST(try_to_timestamp({_UD_DATE}, 'dd/MM/yyyy') AS DATE)"
    return [
        ("_ud_parsed", parsed),
        ("_age_years", f"datediff(CAST({sql_str(as_of)} AS DATE), {parsed}) / 365.25D"),
    ]


def _entity_age_rule() -> str:
    """R11 (`date_rules.py:56-109`): age = (as_of - dd/MM/yyyy)/365.25,
    NEW if < 2 years. The reference's ``datetime.now()`` is nondeterministic
    (SURVEY.md §7); ``as_of`` is a job parameter instead. Unparseable date
    -> SKIPPED (the reference's ValueError branch)."""
    status_word = "CASE WHEN _age_years < 2 THEN 'NEW' ELSE 'EXISTING' END"
    return case([
        ("udyam_doc IS NULL", _skip("Missing Udyam data")),
        (f"{_UD_DATE} = ''", _skip("Incorporation date not available")),
        ("_ud_parsed IS NULL",
         _res(SKIPPED, f"concat('Skipped: Could not parse date: ', {_UD_DATE})")),
    ], _res(PASS, f"concat('Entity is ', {status_word}, ' (incorporated ', "
                  "CAST(round(_age_years, 1) AS STRING), ' years ago)')"))


def _commencement_rule() -> str:
    """R12 (`date_rules.py:112-161`): equal dates -> WARNING (existing-entity
    signal); differing or absent commencement -> PASS."""
    inc = _UD_DATE
    com = nz("udyam_doc.commencement_date")
    return case([
        ("udyam_doc IS NULL", _skip("Missing Udyam data")),
        (f"{inc} = '' OR {com} = ''",
         _res(PASS, sql_str("Commencement date not available for comparison"))),
        (f"{inc} = {com}", _res(WARNING, sql_str(
            "Incorporation and commencement dates are same - may indicate existing entity"))),
    ], _res(PASS, sql_str("Incorporation and commencement dates differ")))


def _rule_specs() -> list:
    """The declarative registry: (rule_id, severity, source_docs, CASE sql).
    The CASE may read the columns bound by ``_rule_lets``."""
    return [
        ("NAME_MATCH_PAN_GST", CRITICAL, ["PAN", "GST"],
         _name_equality_rule("pan_doc", "gst_doc", "PAN", "GST")),
        ("NAME_MATCH_PAN_UDYAM", CRITICAL, ["PAN", "UDYAM"],
         _name_equality_rule("pan_doc", "udyam_doc", "PAN", "UDYAM")),
        ("NAME_MATCH_GST_UDYAM", CRITICAL, ["GST", "UDYAM"],
         _name_equality_rule("gst_doc", "udyam_doc", "GST", "UDYAM")),
        ("PAN_MATCH_GST", CRITICAL, ["PAN", "GST"],
         _pan_equality_rule("pan_doc", "gst_doc", "PAN", "GST")),
        ("PAN_MATCH_UDYAM", CRITICAL, ["PAN", "UDYAM"],
         _pan_equality_rule("pan_doc", "udyam_doc", "PAN", "UDYAM")),
        ("ADDR_GST_PRINCIPAL_UDYAM_OFFICE", WARN_SEV, ["GST", "UDYAM"], _address_score_rule()),
        ("PIN_MATCH_GST_UDYAM", CRITICAL, ["GST", "UDYAM"], _pin_match_rule()),
        ("ADDR_GST_ADDITIONAL_UDYAM_FACTORY", INFO, ["GST", "UDYAM"], _factory_containment_rule()),
        ("CONSTITUTION_GST_UDYAM", WARN_SEV, ["GST", "UDYAM"], _constitution_rule()),
        ("INCORPORATION_DATE_PAN_UDYAM", CRITICAL, ["PAN", "UDYAM"], _incorporation_date_rule()),
        ("ENTITY_AGE_CHECK", INFO, ["UDYAM"], _entity_age_rule()),
        ("INCORPORATION_VS_COMMENCEMENT", INFO, ["UDYAM"], _commencement_rule()),
    ]


def _rule_lets(as_of: str = "2026-01-01") -> list:
    """(name, sql) sub-expressions the rules share, bound once per row."""
    return _address_score_lets() + _constitution_lets() + _entity_age_lets(as_of)


def run_rules(
    entities: DataFrame,
    as_of: str = "2026-01-01",
    disabled_rules: set | None = None,
    severity_filter: str | None = None,
) -> DataFrame:
    """Entities -> validation_results: one row per (entity, rule).

    Three projections — the shared bindings, one struct column per rule,
    then ``inline`` over an array of the rule rows — so no shuffle after
    the entity join. F8 config filters (`engine.py:84-92`):
    ``disabled_rules`` drops rule ids; ``severity_filter`` keeps rules with
    severity rank >= the threshold."""
    disabled = disabled_rules or set()
    specs = [s for s in _rule_specs() if s[0] not in disabled]
    if severity_filter:
        threshold = SEVERITY_RANK[severity_filter]
        specs = [s for s in specs if SEVERITY_RANK[s[1]] >= threshold]

    rows = ", ".join(
        f"named_struct('rule_id', {sql_str(rule_id)}, "
        f"'status', _r{i}.status, 'message', _r{i}.message, "
        f"'severity', {sql_str(severity)}, "
        f"'source_docs', array({', '.join(sql_str(d) for d in docs)}))"
        for i, (rule_id, severity, docs, _case_sql) in enumerate(specs)
    )
    return (
        entities.selectExpr("entity_key", "pan_doc", "gst_doc", "udyam_doc",
                            *[f"{sql} AS {name}" for name, sql in _rule_lets(as_of)])
        .selectExpr("entity_key", *[f"{case_sql} AS _r{i}"
                                    for i, (_, _, _, case_sql) in enumerate(specs)])
        .selectExpr("entity_key", f"inline(array({rows}))")
    )
