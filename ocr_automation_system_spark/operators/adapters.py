"""Canonicalization adapters + entity build (A1-A8 in SURVEY.md §2.5).

The reference adapters (`/root/reference/project/verification_engine/
adapters/*`) are per-document dict projections; here each is a JVM-side
projection over the extraction results — whole-stage codegen, no Python.
The projections are Spark SQL text (``sqltext``): each reaches the JVM in
one ``selectExpr`` call, where the former ``Column`` trees cost a py4j
round trip per ``F.*`` call — ~5k of them and ~1.2-1.4 s of driver time
for ``build_entities`` on a 4-vCPU VM, now ~50 and ~0.1-0.2 s. These
columns are join keys and comparison values, not golden text, so [B] expressions are allowed
(SURVEY.md §7 byte-identity rule: golden-affecting transforms stay in
Python UDFs; keys/metrics go JVM).

The entity builder (A8, `engine.py:47-71`) groups the three doctypes by the
normalized PAN key — the reference holds exactly one entity in memory, so
its "join" is implicit. Here it is one scan of the extractions and one
keyed aggregation (one hash exchange on a near-unique key), the work of a
3-way full-outer join without a per-side read, window or join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, StringType, StructField, StructType,
)

from .sqltext import case, contains_any, nz, sql_str

# -- from_json schemas for the per-doctype fields_json / tables_json ----------

GST_ADDRESS_SCHEMA = StructType([
    StructField(k, StringType()) for k in (
        "floor_no", "building_flat_no", "premises_name", "road_street",
        "nearby_landmark", "locality", "city", "district", "state", "pin_code",
    )
])
GST_FIELDS_SCHEMA = StructType([
    StructField("name", StringType()),
    StructField("constitution_of_business", StringType()),
    StructField("principal_address", GST_ADDRESS_SCHEMA),
    StructField("particulars_of_approving_authority", StringType()),
    StructField("gst_number", StringType()),
    StructField("total_no_of_additional_places", StringType()),
    StructField("additional_place_of_business", StringType()),
])

UDYAM_ADDRESS_SCHEMA = StructType([
    StructField(k, StringType()) for k in (
        "flat_no", "building", "village_town", "block", "road", "city",
        "state", "district", "pin", "mobile", "email",
    )
])
UDYAM_FIELDS_SCHEMA = StructType([
    StructField("udyam_number", StringType()),
    StructField("enterprise_name", StringType()),
    StructField("pan", StringType()),
    StructField("mobile", StringType()),
    StructField("email", StringType()),
    StructField("incorporation_date", StringType()),
    StructField("commencement_date", StringType()),
    StructField("official_address", UDYAM_ADDRESS_SCHEMA),
])
UDYAM_TABLES_SCHEMA = StructType([
    StructField("classification_history", ArrayType(StructType([
        StructField("sno", StringType()),
        StructField("classification_year", StringType()),
        StructField("enterprise_type", StringType()),
        StructField("classification_date", StringType()),
    ]))),
    StructField("employment_details", StructType([
        StructField(k, DoubleType()) for k in ("male", "female", "other", "total")
    ])),
    StructField("units_details", ArrayType(StructType([
        StructField(k, StringType()) for k in (
            "sno", "unit_name", "flat", "building", "village_town", "block",
            "road", "pin", "state", "district",
        )
    ]))),
    StructField("bank_details", StructType([
        StructField(k, StringType()) for k in ("bank_name", "ifsc_code", "account_number")
    ])),
])

PAN_FIELDS_SCHEMA = StructType([
    StructField("pan", StringType()),
    StructField("pan_type", StringType()),
    StructField("name", StringType()),
    StructField("incorporation_date", StringType()),
])


# -- A1-A4: scalar normalizers (SQL fragments) --------------------------------

def name_sql(x: str) -> str:
    """A1 (`base_adapter.py:44-69`): upper, strip M/S|MESSRS|SHRI|SMT
    prefixes, strip non-[A-Z0-9 ], collapse spaces — the join-key
    canonicalization for name matching."""
    out = f"upper(trim({x}))"
    for pattern, repl in (
        (r"^(M/S\.?\s*|MESSRS\.?\s*|SHRI\s+|SMT\.?\s*)", ""),
        (r"[^A-Z0-9 ]", ""),
        (r"\s+", " "),
    ):
        out = f"regexp_replace({out}, {sql_str(pattern)}, {sql_str(repl)})"
    return f"trim({out})"


def pan_sql(x: str) -> str:
    """A2 (`base_adapter.py:71-76`)."""
    return f"upper(trim({x}))"


def date_sql(x: str) -> str:
    """A3 (`base_adapter.py:78-90`): [-.] separators -> /."""
    return f"regexp_replace(trim({x}), '[-.]', '/')"


def _first_nonempty(x: str) -> str:
    """A4's value cleaning: upper(trim(x)), '' when NULL or blank."""
    return f"coalesce(nullif(upper(trim({x})), ''), '')"


def _join_nonempty(parts: list) -> str:
    """``concat_ws(', ')`` over the non-empty parts (the reference's
    non-empty join)."""
    return "concat_ws(', ', " + ", ".join(f"nullif({p}, '')" for p in parts) + ")"


# A4 canonical address keys, in struct order.
_ADDRESS_KEYS = ("flat_no", "building", "road", "locality", "city",
                 "district", "state", "pin")


def address_sql(root: str, sources: tuple) -> str:
    """A4 (`base_adapter.py:92-147`): canonical 8-key address struct +
    synthesized full_address, from ``root``'s fields ``sources`` (one per
    ``_ADDRESS_KEYS`` entry)."""
    cleaned = [_first_nonempty(f"{root}.{src}") for src in sources]
    fields = [f"'{k}', {c}" for k, c in zip(_ADDRESS_KEYS, cleaned)]
    return (f"named_struct({', '.join(fields)}, "
            f"'full_address', {_join_nonempty(cleaned)})")


_CONSTITUTION_CHAIN = [
    ("PRIVATE LIMITED", ["PRIVATE LIMITED", "PVT LTD", "PRIVATE LTD", "PRIVATE LIMITED COMPANY"]),
    ("PUBLIC LIMITED", ["PUBLIC LIMITED", "PUBLIC LTD", "PUBLIC LIMITED COMPANY"]),
    ("LLP", ["LLP", "LIMITED LIABILITY PARTNERSHIP"]),
    ("PARTNERSHIP", ["PARTNERSHIP", "PARTNERSHIP FIRM"]),
    ("PROPRIETORSHIP", ["PROPRIETORSHIP", "SOLE PROPRIETORSHIP", "PROPRIETOR"]),
    ("HUF", ["HUF", "HINDU UNDIVIDED FAMILY"]),
    ("TRUST", ["TRUST"]),
    ("SOCIETY", ["SOCIETY"]),
    ("AOP", ["AOP", "ASSOCIATION OF PERSONS"]),
    ("BOI", ["BOI", "BODY OF INDIVIDUALS"]),
]


def constitution_sql(x: str) -> str:
    """A-variant constitution normalization (P16, `base_adapter.py:150-179`):
    10 canonical categories, input returned as-is when unmatched (distinct
    from P15 which returns '')."""
    up = f"upper(trim({x}))"
    chain = case([(contains_any(up, variants), sql_str(canon))
                  for canon, variants in _CONSTITUTION_CHAIN], up)
    return case([(f"{x} IS NULL OR trim({x}) = ''", "''")], chain)


# -- A5-A7: per-doctype normalized projections --------------------------------
#
# Each adapter is (doctype, parsed json columns, columns), where
# ``columns(*aliases)`` renders [(output column, sql)] against the names the
# parsed json columns are bound to, in order: the json columns are parsed
# once in a first projection, the output columns read them in a second. The
# first output column is the doc's url.

_PAN = ("PAN", {"f": ("fields_json", PAN_FIELDS_SCHEMA)}, lambda f: [
    ("pan_url", "url"),
    ("pan", pan_sql(nz(f"{f}.pan"))),
    ("legal_name", name_sql(nz(f"{f}.name"))),
    ("pan_type", nz(f"{f}.pan_type")),
    ("incorporation_date", date_sql(nz(f"{f}.incorporation_date"))),
    ("raw_name", nz(f"{f}.name")),
])

_GST = ("GST_CERTIFICATE", {"f": ("fields_json", GST_FIELDS_SCHEMA)}, lambda f: [
    ("gst_url", "url"),
    ("legal_name", name_sql(nz(f"{f}.name"))),
    ("gst_number", nz(f"{f}.gst_number")),
    ("pan", f"upper(substring({nz(f'{f}.gst_number')}, 3, 10))"),
    ("constitution", constitution_sql(nz(f"{f}.constitution_of_business"))),
    ("raw_constitution", nz(f"{f}.constitution_of_business")),
    ("principal_address", address_sql(f"{f}.principal_address", (
        "building_flat_no", "premises_name", "road_street", "locality",
        "city", "district", "state", "pin_code"))),
    ("additional_places", nz(f"{f}.additional_place_of_business")),
    ("total_additional_places",
     f"coalesce(nullif({f}.total_no_of_additional_places, ''), '0')"),
    ("raw_name", nz(f"{f}.name")),
])


def _enterprise_type(t: str) -> str:
    """O1 — `_get_current_enterprise_type` (`udyam_adapter.py:85-99`):
    latest classification_year wins. try_element_at: a doc whose
    classification table didn't survive extraction (e.g. OCR-leg line
    drops) has an EMPTY array — plain element_at would throw task-killing
    INVALID_ARRAY_INDEX, violating the poison-row contract."""
    return (f"try_element_at(reverse(array_sort({t}.classification_history)), 1)"
            ".enterprise_type")


_FACTORY = ("named_struct("
            "'unit_name', regexp_replace(trim(u.unit_name), " + sql_str(r"\s+") + ", ' '), "
            f"'pin', upper(trim({nz('u.pin')})), "
            "'full_address', " + _join_nonempty([
                f"upper(trim(u.{k}))" for k in (
                    "flat", "building", "road", "village_town", "district",
                    "state", "pin")]) + ")")

_UDYAM = ("UDYAM", {"f": ("fields_json", UDYAM_FIELDS_SCHEMA),
                    "t": ("tables_json", UDYAM_TABLES_SCHEMA)}, lambda f, t: [
    ("udyam_url", "url"),
    ("legal_name", name_sql(nz(f"{f}.enterprise_name"))),
    ("pan", pan_sql(nz(f"{f}.pan"))),
    ("udyam_number", nz(f"{f}.udyam_number")),
    ("incorporation_date", date_sql(nz(f"{f}.incorporation_date"))),
    ("commencement_date", date_sql(nz(f"{f}.commencement_date"))),
    ("registered_address", address_sql(f"{f}.official_address", (
        "flat_no", "building", "road", "village_town", "city", "district",
        "state", "pin"))),
    ("factory_addresses",
     f"coalesce(transform({t}.units_details, u -> {_FACTORY}), array())"),
    ("enterprise_type", nz(_enterprise_type(t))),
    ("mobile", nz(f"{f}.mobile")),
    ("email", nz(f"{f}.email")),
    ("raw_name", nz(f"{f}.enterprise_name")),
])

_SIDES = (("pan", _PAN), ("gst", _GST), ("udyam", _UDYAM))


def _adapt(results: DataFrame, spec: tuple) -> DataFrame:
    doctype, parsed, columns = spec
    return (
        results.where(f"document_type = {sql_str(doctype)}")
        .selectExpr("url", *[f"from_json({src}, {sql_str(schema.json())}) AS {name}"
                             for name, (src, schema) in parsed.items()])
        .selectExpr(*[f"{sql} AS {name}" for name, sql in columns(*parsed)])
    )


def adapt_pan(results: DataFrame) -> DataFrame:
    """A5 (`pan_adapter.py:18-44`)."""
    return _adapt(results, _PAN)


def adapt_gst(results: DataFrame) -> DataFrame:
    """A6 (`gst_adapter.py:18-56`) incl. P10 PAN-from-GSTIN."""
    return _adapt(results, _GST)


def adapt_udyam(results: DataFrame) -> DataFrame:
    """A7 (`udyam_adapter.py:18-99`) incl. top-1-by-year enterprise type
    (O1: the reference's sort+[0] becomes ``array_sort`` + ``element_at``)
    and per-unit factory-address normalization via ``transform``."""
    return _adapt(results, _UDYAM)


# -- A8: entity build ----------------------------------------------------------

def build_entities(results: DataFrame) -> DataFrame:
    """A8 (`engine.py:47-71`): one row per PAN entity key with the
    normalized PAN, GST and Udyam doc structs; an absent doc is a NULL
    struct (the reference's ``{}``).

    One scan and one aggregation. A projection over the three doctypes
    parses each doctype's json under its own ``document_type`` condition,
    keys the row by that doctype's ``pan`` and builds its doc struct, NULL
    on the other doctypes' rows. ``min`` per doc column then keeps one doc
    per (doctype, key): the first by url, the struct's first field, with
    the rest of the struct breaking url ties, so it is deterministic — the
    relational form of the reference's single-entity assumption
    (top-1-per-group, SURVEY.md §2.7). Keys are near-unique PANs, so the
    one hash exchange is uniform and map-side partial aggregation has
    little to merge."""
    parsed, keys, docs = [], [], []
    for side, (doctype, json_cols, columns) in _SIDES:
        is_side = f"document_type = {sql_str(doctype)}"
        aliases = [f"{side}_{name}" for name in json_cols]
        parsed += [f"IF({is_side}, from_json({src}, {sql_str(schema.json())}), NULL) AS {alias}"
                   for alias, (src, schema) in zip(aliases, json_cols.values())]
        sql = dict(columns(*aliases))
        keys.append((is_side, sql["pan"]))
        fields = ", ".join(f"{sql_str(name)}, {expr}" for name, expr in sql.items())
        docs.append(f"IF({is_side}, named_struct({fields}), NULL) AS {side}_doc")
    doctypes = ", ".join(sql_str(spec[0]) for _, spec in _SIDES)
    return (
        results.where(f"document_type IN ({doctypes})")
        .selectExpr("url", "document_type", *parsed)
        .selectExpr(f"{case(keys, 'NULL')} AS entity_key", *docs)
        .where("entity_key != ''")
        .groupBy("entity_key")
        .agg(*[F.expr(f"min({side}_doc) AS {side}_doc") for side, _ in _SIDES])
    )


def duplicate_id_check(results: DataFrame) -> DataFrame:
    """The north rule's duplicate-id consistency check: PANs claimed by
    conflicting normalized names. One groupBy (map-side partial agg);
    ``n_names`` is the size of the distinct-name set it collects, so no
    second distinct aggregate. Skew-safe because PAN cardinality is
    ~|entities|."""
    named = "CASE WHEN name != '' THEN name END"
    return (
        results.where("entity_pan != ''")
        .selectExpr("entity_pan AS pan", f"{name_sql('entity_name')} AS name")
        .groupBy("pan")
        .agg(F.expr("count(1) AS n_docs"),
             F.expr(f"sort_array(collect_set({named})) AS names"))
        .selectExpr("pan", "n_docs", "CAST(size(names) AS BIGINT) AS n_names",
                    "names", "size(names) > 1 AS is_conflict")
    )


def checksum_consistency_check(results: DataFrame) -> DataFrame:
    """R4-shaped derived-key join at corpus scale: every GST doc's embedded
    PAN (GSTIN chars 3-12) must exist as a PAN doc with the same id. A
    broadcast-eligible equi-join on a derived key (`north_star`'s "checksum
    consistency check")."""
    gst = results.where(
        "document_type = 'GST_CERTIFICATE' AND entity_gstin != ''"
    ).selectExpr("url AS gst_url", "entity_gstin AS gstin",
                 "upper(substring(entity_gstin, 3, 10)) AS derived_pan")
    pans = results.where(
        "document_type = 'PAN' AND entity_pan != ''"
    ).selectExpr("entity_pan AS pan").distinct()
    return (
        gst.join(pans, F.expr("derived_pan = pan"), "left_outer")
        .selectExpr("gst_url", "gstin", "derived_pan", "pan IS NOT NULL AS pan_doc_exists")
    )
