"""GST-certificate field extraction (operators P8-P28, F4-F7 in SURVEY.md §2).

Fresh, data-driven reimplementation of the reference GST extractor's
semantics (`/root/reference/project/core/extractors/gst_certi.py`). The
reference is ~1,360 lines of procedural fallback chains; here the same
behavior is expressed as regex tables + a handful of line-walk helpers so the
whole doctype is data, not code (SURVEY.md §7 build plan step 3).

Structure of the output record matches the reference
(`gst_certi.py:454-462`): ``{document_type, fields, missing_fields, debug}``
where ``fields.principal_address`` is a structured sub-dict
(`gst_certi.py:203-396`).
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Noise predicates (F4/F5/F6 — `gst_certi.py:1318-1360,591-608`)
# ---------------------------------------------------------------------------

_NOISE_RES = [re.compile(p, re.IGNORECASE) for p in (
    r"^[^a-zA-Z0-9]+$",
    r"^(yes|no|na|nil)$",
    r"^\d+\s*\.\s*$",
    r"^page\s*\d+",
    r"^\d{1,4}$",
)]

_HEADER_NOISE_RES = [re.compile(p, re.IGNORECASE) for p in (
    r"trade\s*name.*if\s*any",
    r"^legal\s*name$",
    r"^trade\s*name$",
    r"form\s*gst",
    r"government\s*of\s*india",
    r"registration\s*certificate",
    r"goods\s*and\s*services",
    r"^details\s*of",
    r"^constitution\s*of",
    r"^principal\s*place",
    r"^address\s*of",
    r"additional.*if\s*any",
    r"see\s*rule",
)]

_FORM_NOISE_SUBSTRINGS = (
    "goods and services tax identification number",
    "details of",
    "legal name",
    "trade name, if any",
    "form gst",
    "registration certificate",
    "annexure",
)


# Union alternations of the predicate lists: for a pure EXISTENCE test,
# `any(p.match(line) for p in pats)` is exactly `union.match(line) is not
# None` (an alternation at one position succeeds iff some alternative
# does; leftmost/first-alternative tie-breaks are invisible to a boolean)
# — one C-level scan instead of len(pats). tests/test_oracle_extractors
# asserts the equivalence against the per-pattern loop.
_NOISE_UNION = re.compile(
    "|".join(f"(?:{p.pattern})" for p in _NOISE_RES), re.IGNORECASE)
_HEADER_NOISE_UNION = re.compile(
    "|".join(f"(?:{p.pattern})" for p in _HEADER_NOISE_RES), re.IGNORECASE)


def is_noise(line: str) -> bool:
    """F4 (`gst_certi.py:1318-1335`)."""
    if not line or len(line) < 2:
        return True
    return _NOISE_UNION.match(line) is not None


def is_header_noise(line: str) -> bool:
    """F5 (`gst_certi.py:1338-1360`)."""
    return _HEADER_NOISE_UNION.search(line) is not None


def contains_form_noise(text: str) -> bool:
    """F6 (`gst_certi.py:591-608`)."""
    low = text.lower()
    return any(s in low for s in _FORM_NOISE_SUBSTRINGS)


# ---------------------------------------------------------------------------
# Text canon (P34 — `gst_certi.py:705-711`) and field cleanup (P33)
# ---------------------------------------------------------------------------

_CTRL = re.compile(r"[\x00-\x08\x0b-\x0c\x0e-\x1f]")
_HTAB = re.compile(r"[ \t]+")


def normalize_text(text: str) -> str:
    """P34: strip control chars, collapse [ \\t]+, drop blank lines —
    byte-exact order matters (`gst_certi.py:705-711`)."""
    text = _CTRL.sub("", text)
    text = _HTAB.sub(" ", text)
    return "\n".join(ln.strip() for ln in text.split("\n") if ln.strip())


def clean_field_value(value: str) -> str:
    """P33 (`gst_certi.py:1309-1315`)."""
    value = re.sub(r"\s+", " ", value)
    value = re.sub(r"[:\-]+\s*$", "", value)
    value = re.sub(r"^\s*[:\-]+", "", value)
    value = re.sub(r"^[,\s]+|[,\s]+$", "", value)
    return value.strip()


# ---------------------------------------------------------------------------
# GSTIN (P8/P9 — `gst_certi.py:1062-1077,552-561`)
# ---------------------------------------------------------------------------

_GSTIN_STRICT = re.compile(r"\b(\d{2}[A-Z]{5}\d{4}[A-Z][A-Z\d]Z[A-Z\d])\b")
_GSTIN_LABELED = re.compile(
    r"(?:gstin|gst\s*no|registration\s*number|identification\s*number)[:\s\-]*([A-Z0-9]{15})",
    re.IGNORECASE,
)
_GSTIN_LOOSE = re.compile(r"^\d{2}[A-Z]{5}\d{4}[A-Z\d]{3}$")
_GSTIN_FULL = re.compile(r"^\d{2}[A-Z]{5}\d{4}[A-Z][A-Z\d]Z[A-Z\d]$")


def extract_gst_number(text: str) -> str:
    """P8: strict pattern first, then labeled + re-validate."""
    m = _GSTIN_STRICT.search(text)
    if m:
        return m.group(1)
    m = _GSTIN_LABELED.search(text)
    if m:
        gstin = m.group(1).upper().replace(" ", "")
        if len(gstin) == 15 and _GSTIN_LOOSE.match(gstin):
            return gstin
    return ""


def validate_gstin(gstin: str) -> str:
    """P9: 15 chars + full-pattern match, else empty."""
    if gstin and len(gstin) == 15 and _GSTIN_FULL.match(gstin):
        return gstin
    return ""


# ---------------------------------------------------------------------------
# Names (P11/P12/P13 — `gst_certi.py:714-793`)
# ---------------------------------------------------------------------------

_SECTION_NUM = re.compile(r"^\d+\.?$")
_WS = re.compile(r"\s+")


def _name_candidate(candidate: str) -> str:
    """Shared candidate filter used by the line-walk methods."""
    if not candidate or len(candidate) < 3:
        return ""
    if is_header_noise(candidate):
        return ""
    if _SECTION_NUM.match(candidate):
        return ""
    candidate = _WS.sub(" ", candidate)
    if re.match(r"^[A-Z]", candidate) and not re.match(r"^Registration", candidate, re.IGNORECASE):
        return candidate
    return ""


def extract_legal_name(text: str) -> str:
    """P11: header-anchored walk, section-1 walk, then direct regex."""
    lines = text.split("\n")

    # Method 1: line(s) after a standalone "Legal Name" header.
    for i, line in enumerate(lines):
        if re.search(r"^legal\s*name\s*$", line, re.IGNORECASE):
            for off in range(1, 4):
                if i + off < len(lines):
                    cand = _name_candidate(lines[i + off].strip())
                    if cand:
                        return cand

    # Method 2: line(s) after a standalone section marker "1."
    for i, line in enumerate(lines):
        if re.match(r"^\s*1\s*\.\s*$", line):
            for off in range(1, 5):
                if i + off < len(lines):
                    raw = lines[i + off].strip()
                    if re.search(r"^legal\s*name", raw, re.IGNORECASE):
                        continue
                    cand = _name_candidate(raw)
                    if cand:
                        return cand

    # Method 3: direct multiline regex after Registration Number.
    m = re.search(
        r"Registration\s*Number\s*[:\-]?\s*[A-Z0-9]+\s*\n.*?Legal\s*Name\s*\n\s*"
        r"([A-Z][A-Z\s\.\,\&\(\)\-]+(?:LTD|LIMITED|LLP|COMPANY|ENTERPRISE|CORP|PRIVATE|PVT)[A-Z\s\.]*?)\s*\n",
        text,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        name = _WS.sub(" ", m.group(1).strip())
        if not is_header_noise(name):
            return name
    return ""


def extract_trade_name(text: str) -> str:
    """P12: line after section marker "2." or a "Trade Name" header."""
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if re.match(r"^\s*2\s*\.?\s*$", line) or re.search(r"^trade\s*name", line, re.IGNORECASE):
            if i + 1 < len(lines):
                cand = lines[i + 1].strip()
                if cand and len(cand) > 3 and not is_header_noise(cand):
                    cand = _WS.sub(" ", cand)
                    if re.match(r"^[A-Z]", cand):
                        return cand
    return ""


def extract_name(text: str) -> str:
    """P13: legal name if len>3 else trade name if len>3 else ''."""
    legal = extract_legal_name(text)
    if legal and len(legal) > 3:
        return legal
    trade = extract_trade_name(text)
    return trade if trade and len(trade) > 3 else ""


# ---------------------------------------------------------------------------
# Constitution (P14/P15 — `gst_certi.py:796-845`)
# ---------------------------------------------------------------------------

# Order-sensitive normalization chain (`gst_certi.py:826-845`).
_CONSTITUTION_CHAIN: list[tuple] = [
    (lambda v: "private" in v and "limit" in v, "Private Limited"),
    (lambda v: "public" in v and "limit" in v, "Public Limited"),
    (lambda v: "llp" in v or "limited liability partnership" in v, "LLP"),
    (lambda v: "partnership" in v and "llp" not in v and "limited" not in v, "Partnership"),
    (lambda v: "proprietor" in v, "Proprietorship"),
    (lambda v: "society" in v or "club" in v or "aop" in v, "Society"),
    (lambda v: "trust" in v, "Trust"),
    (lambda v: "huf" in v or "hindu undivided family" in v, "HUF"),
    (lambda v: "company" in v, "Company"),
]


def normalize_constitution(value: str) -> str:
    """P15: keyword chain -> 9 canonical values, else '' (order preserved)."""
    if not value:
        return ""
    low = _WS.sub(" ", value).strip().lower()
    for pred, canonical in _CONSTITUTION_CHAIN:
        if pred(low):
            return canonical
    return ""


#: P17 whitelist (`gst_certi.py:517-521`) — distinct from the P15 chain:
#: pass-through on substring hit, '' otherwise. Reference caller
#: `_validate_and_clean_fields` is dead code (SURVEY.md §3 EP2), so the
#: live path never invokes this; kept for inventory completeness.
_VALID_CONSTITUTION_TYPES = (
    "proprietorship", "private limited", "public limited", "partnership",
    "llp", "society", "trust", "huf", "company",
    "limited liability partnership",
)


def validate_constitution(constitution: str) -> str:
    """P17: pass-through iff the value contains a whitelisted type."""
    low = constitution.lower()
    if any(t in low for t in _VALID_CONSTITUTION_TYPES):
        return constitution
    return ""


def extract_constitution(text: str) -> str:
    """P14: section-marker / header walk, then a direct regex fallback."""
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if re.search(r"(?:3|4)\s*\.?\s*$", line) or re.search(
            r"^constitution\s*(?:of\s*)?(?:business|bu\w*)", line, re.IGNORECASE
        ):
            for off in (1, 2):
                if i + off < len(lines):
                    normalized = normalize_constitution(lines[i + off].strip())
                    if normalized and len(normalized) > 2:
                        return normalized
    m = re.search(
        r"constitution\s*(?:of\s*)?(?:business|bu\w*)\s*\n\s*([\w\s\/]+?)(?=\n|$)",
        text,
        re.IGNORECASE | re.MULTILINE,
    )
    if m:
        return normalize_constitution(m.group(1).strip())
    return ""


# ---------------------------------------------------------------------------
# Principal address (P18 section walk — `gst_certi.py:848-919`)
# ---------------------------------------------------------------------------

_ADDRESS_STOPS = [re.compile(p, re.IGNORECASE) for p in (
    r"^date\s*of\s*liability",
    r"^date\s*of\s*validity",
    r"^period\s*of\s*validity",
    r"^type\s*of\s*registration",
    r"^particulars\s*of",
    r"^approving\s*authority",
    r"^signature\s*$",
    r"^annexure",
)]


def extract_principal_address(text: str) -> str:
    """P18: find the 'principal place' header, skip up to 4 header
    continuation lines, then collect up to 20 lines stopping at section
    numbers / stop keywords, dropping noise lines."""
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if not re.search(r"(?:address\s*of\s*)?principal\s*place", line, re.IGNORECASE):
            continue
        j = i + 1
        while j < len(lines) and j < i + 5:
            cont = lines[j].strip()
            if re.search(r"^(address\s*of|principal|place\s*of|business)$", cont, re.IGNORECASE):
                j += 1
                continue
            if re.search(r"address\s*of\s*principal", cont, re.IGNORECASE):
                j += 1
                continue
            break

        parts: list[str] = []
        while j < len(lines) and j < i + 20:
            cand = lines[j].strip()
            if not cand or len(cand) < 2:
                j += 1
                continue
            if re.match(r"^\d+\s*\.", cand):
                break
            if any(p.match(cand) for p in _ADDRESS_STOPS):
                break
            if re.match(r"^business$", cand, re.IGNORECASE):
                j += 1
                continue
            if is_header_noise(cand):
                j += 1
                continue
            if not is_noise(cand):
                parts.append(cand)
            j += 1

        if parts:
            address = "\n".join(parts)
            if len(address) > 10 and not contains_form_noise(address):
                return address
    return ""


# ---------------------------------------------------------------------------
# Fragmented-label merge (P19 — `gst_certi.py:56-123`)
# ---------------------------------------------------------------------------

_LABEL_STARTS = frozenset(
    "floor building name road nearby locality city district state pin".split()
)
_LABEL_PARTS = frozenset(
    ["no", "no.", "no.:", "no:", "/", "flat", "of", "premises", "street",
     "landmark", "sub", "town", "village", "code", "cod", "local", "/sub",
     "/street", "/flat", "/town", "/building"]
)


def merge_fragmented_lines(text: str) -> str:
    """P19: state machine re-joining OCR-split label lines
    ("Floor" + "No.:" + "9TH" -> "Floor No.: 9TH"), 7-line lookahead."""
    lines = text.split("\n")
    out: list[str] = []
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        key = line.lower().rstrip(":")
        if key not in _LABEL_STARTS:
            out.append(line)
            i += 1
            continue

        merged = line
        j = i + 1
        found_value = False
        while j < len(lines) and j < i + 8:
            nxt = lines[j].strip()
            nkey = nxt.lower().rstrip(":")
            if nkey in _LABEL_STARTS and ":" not in merged:
                break
            if nkey in _LABEL_PARTS or nkey.replace(".", "") in _LABEL_PARTS:
                merged += " " + nxt
                j += 1
            elif ":" in nxt and not found_value:
                merged += " " + nxt
                j += 1
                if merged.rstrip().endswith(":") and j < len(lines):
                    val = lines[j].strip()
                    if val and val.lower().rstrip(":") not in _LABEL_STARTS:
                        merged += " " + val
                        j += 1
                        found_value = True
            elif not found_value and nkey not in _LABEL_STARTS:
                merged += " " + nxt
                j += 1
                found_value = True
            else:
                break
        out.append(merged)
        i = j
    return "\n".join(out)


# ---------------------------------------------------------------------------
# Labeled address fields (P20 — `gst_certi.py:126-200`)
# ---------------------------------------------------------------------------

# (pattern, key) ordered by specificity; first-found-wins per key.
_LABEL_FIELD_SPECS: list[tuple] = [
    (r"floor\s*(?:no\.?)?\s*:\s*(\S+)", "floor_no"),
    (r"(?:building|bldg)\s*(?:no\.?)?\s*/?\s*(?:flat)?\s*(?:no\.?)?\s*:\s*([^,\n]+?)"
     r"(?=\s+(?:name|road|nearby|locality|city|district|state|pin|floor|\d+\.|$))",
     "building_flat_no"),
    (r"flat\s*(?:no\.?)?\s*:\s*([^,\n]+?)"
     r"(?=\s+(?:name|road|nearby|locality|city|district|state|pin|building|\d+\.|$))",
     "building_flat_no"),
    (r"name\s*(?:of)?\s*premises\s*/?\s*(?:building)?\s*:\s*([^,\n]+?)"
     r"(?=\s+(?:road|nearby|locality|city|district|state|pin|\d+\.|$))", "premises_name"),
    (r"road\s*/?\s*(?:street)?\s*:\s*([^,\n]+?)"
     r"(?=\s+(?:nearby|landmark|locality|city|district|state|pin|\d+\.|$))", "road_street"),
    (r"(?:nearby)?\s*landmark\s*:\s*([^,\n]+?)"
     r"(?=\s+(?:locality|city|district|state|pin|\d+\.|$))", "nearby_landmark"),
    (r"locality\s*/?\s*(?:sub)?\s*(?:local)?\s*[ity]*\s*:\s*([^,\n]+?)"
     r"(?=\s+(?:city|district|state|pin|\d+\.|$))", "locality"),
    (r"city\s*/?\s*(?:town)?\s*/?\s*(?:vi(?:llage)?)?[a-z]*\s*:\s*([^,\n]+?)"
     r"(?=\s+(?:district|state|pin|\d+\.|$))", "city"),
    (r"district\s*:\s*([^,\n]+?)(?=\s+(?:state|pin|\d+\.|$))", "district"),
    (r"state\s*:\s*([^,\n]+?)(?=\s+(?:pin|\d+\.|$))", "state"),
    (r"pin\s*(?:code?)?\s*(?:cod)?\s*:\s*(\d{5,6})", "pin_code"),
]
_LABEL_FIELD_RES = [(re.compile(p, re.IGNORECASE), k) for p, k in _LABEL_FIELD_SPECS]

# OCR-misread fix table (`gst_certi.py:184-192`).
_OCR_FIXES = {
    "viarat": "Gujarat",
    "ujarat": "Gujarat",
    "Gujrat": "Gujarat",
    "edabad": "Ahmedabad",
    "Ahn Laba": "Ahmedabad",
    "Ahm Laba": "Ahmedabad",
}


def _apply_ocr_fixes(value: str) -> str:
    """Documented divergence from the reference: `gst_certi.py:193-195`
    applies each fix whenever the misread substring occurs, which mangles
    already-correct values ("Ahmedabad" contains "edabad" and becomes
    "AhmAhmedabad"). We add an idempotence guard — skip the fix when the
    corrected form is already present — keeping the repair semantics while
    making the transform a fixpoint."""
    for bad, good in _OCR_FIXES.items():
        low = value.lower()
        if bad.lower() in low and good.lower() not in low:
            value = re.sub(re.escape(bad), good, value, flags=re.IGNORECASE)
    return value


def extract_labeled_address_fields(address: str) -> dict:
    """P20: ordered label regexes over the fragment-merged, flattened text."""
    result: dict = {}
    flat = re.sub(r"\n+", " ", re.sub(r"[ \t]+", " ", merge_fragmented_lines(address)))
    for pat, key in _LABEL_FIELD_RES:
        if key in result:
            continue
        m = pat.search(flat)
        if m:
            value = re.sub(r"[\s,:]+$", "", m.group(1).strip())
            value = _WS.sub(" ", value)
            value = re.sub(r"\b(Business|No\.|no\.|No:|no:)\b", "", value, flags=re.IGNORECASE)
            value = _apply_ocr_fixes(value.strip())
            if value:
                result[key] = value
    return result


# ---------------------------------------------------------------------------
# Token-based address structuring (P21 — `gst_certi.py:203-396`)
# ---------------------------------------------------------------------------

_STATE_RE = re.compile(
    r"\b(gujarat|maharashtra|karnataka|tamil\s*nadu|telangana|andhra\s*pradesh|kerala|"
    r"rajasthan|bihar|uttar\s*pradesh|madhya\s*pradesh|punjab|haryana|odisha|orissa|assam|"
    r"jharkhand|chhattisgarh|goa|himachal\s*pradesh|uttarakhand|uttaranchal|west\s*bengal|"
    r"delhi|jammu\s*(?:and|&)?\s*kashmir|ladakh|chandigarh|puducherry|pondicherry|sikkim|"
    r"tripura|meghalaya|manipur|mizoram|arunachal\s*pradesh|nagaland)\b",
    re.IGNORECASE,
)
_CITY_RE = re.compile(
    r"\b(ahmedabad|mumbai|pune|bengaluru|bangalore|chennai|kolkata|delhi|surat|vadodara|"
    r"jaipur|hyderabad|lucknow|kanpur|nagpur|indore|thane|bhopal|visakhapatnam|patna|"
    r"ludhiana|agra|nashik|faridabad|meerut|rajkot|varanasi|srinagar|aurangabad|dhanbad|"
    r"amritsar|ranchi|gwalior|coimbatore|vijayawada|jodhpur|madurai|raipur|kota|guwahati|"
    r"chandigarh|solapur|hubli|mysore|tiruchirappalli|bareilly|aligarh|tiruppur|moradabad|"
    r"jalandhar|bhubaneswar|salem|warangal|guntur|bhilai|cuttack|bikaner|amravati|noida|"
    r"gurgaon|gandhinagar|mehsana|kadi)\b",
    re.IGNORECASE,
)
_PIN_RE = re.compile(r"\b(\d{6})\b")
_EMBEDDED_LABELS = [re.compile(p, re.IGNORECASE) for p in (
    r"Building\s*(?:No\.?|Number)\s*/?\s*Flat\s*(?:No\.?|Number)\s*:?",
    r"Name\s*(?:Of|of)\s*Premises\s*/?\s*Building\s*:?",
    r"Road\s*/?\s*Street\s*:?",
    r"Nearby\s*Landmark\s*:?",
    r"Locality\s*/?\s*Sub\s*Locality\s*:?",
    r"City\s*/?\s*Town\s*/?\s*Village\s*:?",
    r"District\s*:?",
    r"State\s*:?",
    r"PIN\s*(?:Code)?\s*:?",
    r"Floor\s*(?:No\.?)?\s*:?",
    r"Business\s*$",
)]
_HAS_LABELS_RE = re.compile(
    r"(?:building|flat|floor|premises|road|street|landmark|locality|city|town|district|"
    r"state|pin)\s*(?:no\.?|of|/)?\s*[^:]*:\s*\S+",
    re.IGNORECASE,
)
# Token classifiers for the fallback path (`gst_certi.py:321-358`).
_TOK_BUILDING = re.compile(
    r"(?:f\.?p\.?|t\.?p\.?|plot|flat|floor|shop|unit|office|block)\s*(?:no\.?)?\s*[-:]?\s*\d+",
    re.IGNORECASE,
)
_TOK_BUILDING_ALT = re.compile(r"^[A-Z]-\d+")
_TOK_PREMISES = re.compile(
    r"\b(building|complex|solitaire|tower|arcade|center|centre|plaza|heights|residency|"
    r"apartment|society|estate|park|house|galaxy|signature|business)\b",
    re.IGNORECASE,
)
_TOK_ROAD = re.compile(r"\b(road|rd\.?|street|st\.?|lane|marg|path|highway|avenue|chowk)\b", re.IGNORECASE)
_TOK_NEARBY = re.compile(r"\b(nr\.?|near|opp\.?|opposite|behind|beside|adj\.?|adjacent)\b", re.IGNORECASE)


def structure_principal_address(address: str) -> dict:
    """P21: label-first extraction when the text carries labels, else
    order-dependent comma-token classification with used-index bookkeeping."""
    addr = _WS.sub(" ", address).strip()

    if _HAS_LABELS_RE.search(addr):
        result = extract_labeled_address_fields(address)
        if "pin_code" not in result:
            m = _PIN_RE.search(addr)
            if m:
                result["pin_code"] = m.group(1)
        if "state" not in result:
            m = _STATE_RE.search(addr.lower())
            if m:
                result["state"] = m.group(1).strip().title()
        if result:
            return result

    # Fallback: strip embedded labels, fix OCR misreads, classify tokens.
    for pat in _EMBEDDED_LABELS:
        addr = pat.sub("", addr)
    addr = _WS.sub(" ", addr)
    addr = re.sub(r",\s*,+", ",", addr)
    addr = re.sub(r"^\s*,\s*|\s*,\s*$", "", addr).strip()
    addr = _apply_ocr_fixes(addr)

    result: dict = {}
    m = _PIN_RE.search(addr)
    if m:
        result["pin_code"] = m.group(1)
    m = _STATE_RE.search(addr.lower())
    if m:
        result["state"] = m.group(1).strip().title()
    m = _CITY_RE.search(addr.lower())
    if m:
        result["city"] = m.group(1).title()
        result["district"] = result["city"]

    tokens = [t.strip() for t in addr.split(",") if t.strip()]
    used: set[int] = set()

    def claim(pred) -> str:
        for i, t in enumerate(tokens):
            if i in used:
                continue
            if pred(t):
                used.add(i)
                return t
        return ""

    building = claim(lambda t: bool(_TOK_BUILDING.search(t) or _TOK_BUILDING_ALT.match(t.strip())))
    premises = claim(lambda t: bool(_TOK_PREMISES.search(t)))
    road = claim(lambda t: bool(_TOK_ROAD.search(t)))
    nearby = claim(lambda t: bool(_TOK_NEARBY.search(t)))

    locality = ""
    for i, t in enumerate(tokens):
        if i in used:
            continue
        lt = t.lower()
        if result.get("city") and result["city"].lower() in lt:
            used.add(i)
            continue
        if result.get("state") and result["state"].lower() in lt:
            used.add(i)
            continue
        if result.get("pin_code") and result["pin_code"] in t:
            used.add(i)
            continue
        if len(t) < 3:
            continue
        locality = t
        used.add(i)
        break

    for key, val in (
        ("building_flat_no", building),
        ("premises_name", premises),
        ("road_street", road),
        ("nearby_landmark", nearby),
        ("locality", locality),
    ):
        if val:
            result[key] = val.strip()
    return result


# ---------------------------------------------------------------------------
# Approving authority (P22 — `gst_certi.py:935-1059`)
# ---------------------------------------------------------------------------

_AUTHORITY_METHODS: list = [
    # Digital-signature pattern (reference method 3).
    lambda text: "Goods and Services Tax Network (Digital Signature)"
    if re.search(r"(?:digitally\s+signed\s+by\s+)?DS\s+GOODS\s+AND\s+SERVICES\s+TAX\s+NETWORK",
                 text, re.IGNORECASE) else "",
    # State/Central GST Act with year (method 4).
    lambda text: _ws_one(m.group(1)) if (m := re.search(
        r"((?:central|state|union\s*territory|gujarat|maharashtra|karnataka|tamil\s*nadu|delhi|"
        r"west\s*bengal|rajasthan|uttar\s*pradesh|madhya\s*pradesh|haryana|punjab|kerala|"
        r"andhra\s*pradesh|telangana|bihar|odisha|assam|jharkhand|chhattisgarh|goa|"
        r"himachal\s*pradesh|uttarakhand|jammu|ladakh|puducherry|chandigarh)"
        r"\s+goods\s*and\s*services\s*tax\s*act\s*,?\s*\d{4})", text, re.IGNORECASE)) else "",
    # CGST/SGST/IGST/UTGST act (method 5).
    lambda text: _ws_one(m.group(1).strip().upper()) if (m := re.search(
        r"((?:cgst|sgst|igst|utgst)\s*act\s*,?\s*\d{4})", text, re.IGNORECASE)) else "",
    # Generic GST Act (method 6) — title-cased like the reference.
    lambda text: _ws_one(m.group(1).strip()).title() if (m := re.search(
        r"(goods\s*and\s*services\s*tax\s*act\s*,?\s*\d{4})", text, re.IGNORECASE)) else "",
    # "issued/granted under ... Act YYYY" (method 7).
    lambda text: _issued_under(text),
    # Jurisdictional-authority fallback (method 8).
    lambda text: _jurisdictional(text),
]


def _ws_one(s: str) -> str:
    return _WS.sub(" ", s.strip())


def _issued_under(text: str) -> str:
    m = re.search(
        r"(?:issued|granted|approved)\s+(?:under|as\s+per)\s+(?:the\s+)?([^\n]*?(?:act|acts)[^\n]*?\d{4})",
        text, re.IGNORECASE,
    )
    if m:
        authority = re.sub(r"^(?:the\s+)?", "", m.group(1).strip(), flags=re.IGNORECASE)
        if len(authority) > 10:
            return _ws_one(authority)
    return ""


def _jurisdictional(text: str) -> str:
    if re.search(r"by\s+the\s+jurisdictional\s+authority", text, re.IGNORECASE):
        m = re.search(r"Jurisdictional\s*Office\s*\n\s*([A-Z][A-Z\s]+)", text)
        if m:
            return f"Jurisdictional Authority - {m.group(1).strip()}"
        return "Jurisdictional Authority"
    return ""


_PARTICULARS_LINE = re.compile(r"particulars\s*of\s*approving", re.IGNORECASE)
_AUTH_STOP_LINE = re.compile(r"date\s*of\s*issue|note:|annexure", re.IGNORECASE)
_GST_ACT_LINE = re.compile(r"goods\s*and\s*services\s*tax\s*act", re.IGNORECASE)
_FOUR_DIGITS = re.compile(r"\d{4}")
_AUTH_SKIP_NAME = re.compile(r"^(signature|designation|jurisdictional|date)",
                             re.IGNORECASE)
_JURIS_OFFICE = re.compile(r"Jurisdictional\s*Office", re.IGNORECASE)
_CENTRE_NAME = re.compile(r"^(centre|center|signature)$", re.IGNORECASE)


def extract_approving_authority(text: str) -> str:
    """P22: officer-details section walk, then the ordered pattern methods."""
    lines = text.split("\n")
    # Particulars-section walk (reference method 1, simplified to the Act /
    # designation / jurisdiction assembly that the live path exercises).
    # Patterns are module-precompiled — this loop runs per line of the
    # (fat-page) extracted text.
    for i, line in enumerate(lines):
        if not _PARTICULARS_LINE.search(line):
            continue
        name = designation = jurisdiction = ""
        for off in range(1, 15):
            if i + off >= len(lines):
                break
            cand = lines[i + off].strip()
            if _AUTH_STOP_LINE.search(cand):
                break
            if _GST_ACT_LINE.search(cand) and _FOUR_DIGITS.search(cand):
                return _ws_one(cand)
            prev = lines[i + off - 1] if i + off - 1 >= 0 else ""
            if "Name" in prev and cand and not _AUTH_SKIP_NAME.match(cand):
                name = cand
            if "Designation" in cand and i + off + 1 < len(lines):
                designation = lines[i + off + 1].strip()
            if _JURIS_OFFICE.search(cand) and i + off + 1 < len(lines):
                jurisdiction = lines[i + off + 1].strip()
        if name or designation or jurisdiction:
            parts = []
            if name and not _CENTRE_NAME.match(name):
                parts.append(name)
            if designation:
                parts.append(designation)
            if jurisdiction:
                parts.append(f"({jurisdiction})")
            if parts:
                return " - ".join(parts)

    for method in _AUTHORITY_METHODS:
        got = method(text)
        if got:
            return got
    return ""


# ---------------------------------------------------------------------------
# Additional places (P24-P27 — `gst_certi.py:1080-1306`)
# ---------------------------------------------------------------------------

_ADDRESS_INDICATORS = [re.compile(p) for p in (
    r"survey\s*no", r"plot\s*no", r"building", r"flat\s*no", r"floor", r"road",
    r"street", r"taluka", r"village", r"\b\d{6}\b", r"\bgujarat\b",
    r"\bmaharashtra\b", r"\bahmedabad\b", r"\bmumbai\b",
)]


def looks_like_address(line: str) -> bool:
    """F7 (`gst_certi.py:1233-1252`)."""
    low = line.lower()
    return any(p.search(low) for p in _ADDRESS_INDICATORS)


def extract_total_additional_places(text: str) -> str:
    """P24: labeled count, line-walk, then annexure-scoped fallback."""
    m = re.search(
        r"total\s*(?:no\.?|number)\s*of\s*additional\s*places?\s*(?:of\s*business)?"
        r"\s*(?:in\s*the\s*state)?\s*[:\-]?\s*(\d+)",
        text, re.IGNORECASE,
    )
    if m:
        return m.group(1)
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if re.search(r"total\s*number\s*of\s*additional", line, re.IGNORECASE):
            if i + 1 < len(lines) and lines[i + 1].strip().isdigit():
                return lines[i + 1].strip()
            dm = re.search(r"\b(\d+)\b", line)
            if dm:
                return dm.group(1)
    if re.search(r"annexure\s*[:\-]?\s*a", text, re.IGNORECASE):
        am = re.search(r"annexure\s*[:\-]?\s*a.*?total.*?(\d+)", text, re.IGNORECASE | re.DOTALL)
        if am:
            return am.group(1)
    return ""


_ANNEXURE_NOISE = [re.compile(p, re.IGNORECASE) for p in (
    r"annexure\s*[:\-]?\s*a",
    r"details\s*of\s*additional\s*place(?:s)?\s*of\s*business(?:\(s\))?",
    r"additional\s*place(?:s)?\s*of\s*business",
    r"goods\s*and\s*services\s*tax\s*identification\s*number",
    r"\bgstin\b",
    r"legal\s*name",
    r"trade\s*name.*?if\s*any",
    r"trade\s*name",
    r"total\s*number\s*of\s*additional\s*places?\s*of\s*business(?:\(s\))?\s*in\s*the\s*state",
    r"total\s*number\s*of\s*\(s\)\s*in\s*the\s*state",
    r"sr\.?\s*no\.?",
    r"s\.?\s*no\.?",
    r"serial\s*no\.?",
    r"\baddress\b",
    r"for[,\s]+[A-Z][A-Z\s\.\-]+(?:pvt\.?|private|ltd\.?|limited|llp)+[,\.\s]*",
    r"authorised\s*/?\s*director",
    r"authorized\s*/?\s*director",
    r"\d{2}[A-Z]{5}\d{4}[A-Z\d]{3}",
)]
#: Required-literal gate for the 18-pass annexure strip: each entry is a
#: tuple of OR-groups; the pattern can only possibly match when every
#: group has >= 1 literal present in ``text.lower()``. EXACTNESS: every
#: listed literal is a contiguous run inside one token of its pattern
#: (never spanning a ``\s*`` / optional gap), so pattern-matches imply
#: literal-presence; and because every strip pass substitutes a SPACE,
#: no pass can ever create a missing letter/punct literal — absence in
#: the original lowered text implies absence forever, making the skip a
#: provable no-op (fuzz-pinned by
#: tests/test_gst_reference_parity.py::test_annexure_strip_literal_gate_exact).
#: On production-fat annexures 16 of these 18 patterns typically never
#: match; one memchr-style ``in`` scan replaces a full regex pass each.
_ANNEXURE_NOISE_LITERALS = [
    (("annexure",),),
    (("details",),),
    (("additional",),),
    (("identification",),),
    (("gstin",),),
    (("legal",),),
    (("trade",),),
    (("trade",),),
    (("total",),),
    (("(s)",),),
    (("sr",), ("no",)),
    (("no",),),
    (("serial",),),
    (("address",),),
    (("for",), ("pvt", "private", "ltd", "limited", "llp")),
    (("authorised",),),
    (("authorized",),),
    None,  # \d{2}[A-Z]{5}\d{4}... — no contiguous literal; always runs
]
assert len(_ANNEXURE_NOISE_LITERALS) == len(_ANNEXURE_NOISE)


def _strip_annexure_noise(text: str) -> str:
    """The reference's 18 sequential noise substitutions
    (`gst_certi.py:1136-1230` strip loop), byte-identical, with the
    required-literal gate above skipping passes that provably cannot
    match. Sequential (not one combined alternation) is load-bearing:
    later patterns intentionally consume residue earlier passes create
    (e.g. "total number of (s) in the state" only exists after the
    "additional places of business" pass), and a single alternation
    diverges on inputs like "sr. gstin no."."""
    low = text.lower()
    for pat, req in zip(_ANNEXURE_NOISE, _ANNEXURE_NOISE_LITERALS):
        if req is not None and not all(
                any(lit in low for lit in group) for group in req):
            continue
        text = pat.sub(" ", text)
    return text


_COMPANY_LINE = re.compile(
    r"^[A-Z][A-Z\s\.\-]+(?:PRIVATE\s+LIMITED|PVT\.?\s*LTD\.?|LIMITED|LLP)$", re.IGNORECASE
)
_DIGITS_ONLY = re.compile(r"^(\d+)$")
_NO_LETTERS = re.compile(r"^[^a-zA-Z]*$")
_ANNEX_LEGAL_NAME = re.compile(r"legal\s*name\s*\n\s*([^\n]+)", re.IGNORECASE)
_ANNEX_TRADE_NAME = re.compile(r"trade\s*name.*?\n\s*([^\n]+)", re.IGNORECASE)
MAX_ANNEXURE_ADDRESSES = 20  # `gst_certi.py:1230` — per-document top-k cap


_FOR_PREFIX = re.compile(r"^for[,\s]*", re.IGNORECASE)
_DOUBLE_COMMA = re.compile(r",\s*,+")
_PIN_TAIL = re.compile(r"(\d{6})\s*[,\s]*(.*)$")
_ROAD_WORDS = re.compile(r"\b(road|street|taluka|village|district)\b",
                         re.IGNORECASE)


def _clean_additional_address(addr_lines: list, company_names: set) -> str:
    """P27 (`gst_certi.py:1255-1306`)."""
    cleaned = []
    for line in addr_lines:
        line = line.strip()
        if line.lower() in company_names:
            continue
        if _COMPANY_LINE.match(line):
            continue
        if _FOR_PREFIX.match(line):
            continue
        if is_noise(line):
            continue
        cleaned.append(line)
    parts = [p.rstrip(",").strip() for p in cleaned if p.rstrip(",").strip()]
    if not parts:
        return ""
    result = ", ".join(parts)
    result = _DOUBLE_COMMA.sub(",", result)
    result = _WS.sub(" ", result).strip(" ,")
    pin_m = _PIN_TAIL.search(result)
    if pin_m:
        trailing = pin_m.group(2).strip()
        if len(trailing) < 15 and not _ROAD_WORDS.search(trailing):
            result = result[: pin_m.end(1)]
    if len(result) < 20 or not looks_like_address(result):
        return ""
    return result


def parse_annexure_addresses(annexure_text: str) -> list:
    """P26 (`gst_certi.py:1136-1230`): noise strip, numbered-entry split,
    per-entry cleanup, cap at 20 addresses."""
    company_names: set = set()
    nm = _ANNEX_LEGAL_NAME.search(annexure_text)
    if nm:
        company_names.add(nm.group(1).strip().lower())
    tm = _ANNEX_TRADE_NAME.search(annexure_text)
    if tm:
        company_names.add(tm.group(1).strip().lower())

    text = _strip_annexure_noise(annexure_text)

    lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
    addresses: list = []
    current: list = []
    in_address = False
    for line in lines:
        if not line:
            continue
        # Documented divergence: the reference runs its length and gibberish
        # filters (`gst_certi.py:1183,1199-1202`) BEFORE the numbered-entry
        # check, which swallows every bare-digit separator line ("1", "2",…)
        # and makes the multi-address split at `gst_certi.py:1205-1214`
        # unreachable. We test the separator first so the intended per-entry
        # split (and the 20-address cap) actually functions.
        if _DIGITS_ONLY.match(line) and len(line) <= 3:
            if current:
                addr = _clean_additional_address(current, company_names)
                if addr:
                    addresses.append(addr)
            current = []
            in_address = True
            continue
        if len(line) < 3:
            continue
        if contains_form_noise(line):
            continue
        if line.lower() in company_names:
            continue
        if _COMPANY_LINE.match(line):
            continue
        if len(line) < 5 and not _DIGITS_ONLY.match(line):
            continue
        if _NO_LETTERS.match(line) and len(line) < 10:
            continue
        if in_address or looks_like_address(line):
            in_address = True
            if not current and is_noise(line):
                continue
            current.append(line)
    if current:
        addr = _clean_additional_address(current, company_names)
        if addr:
            addresses.append(addr)
    return addresses[:MAX_ANNEXURE_ADDRESSES]


def extract_additional_places(text: str) -> str:
    """P25 (`gst_certi.py:1108-1133`): scope annexure A, reject <30 chars,
    zero-count early-out, parse + double-newline-join addresses."""
    m = re.search(
        r"annexure\s*[:\-]?\s*a\s*(.*?)(?=\bannexure\s*[:\-]?\s*b\b|signature|note\s*[::]|\Z)",
        text, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        return ""
    annexure = m.group(1).strip()
    if len(annexure) < 30:
        return ""
    if "total number of additional places" in annexure.lower():
        zc = re.search(r"total\s*number.*?(\d+)", annexure, re.IGNORECASE)
        if zc and zc.group(1) == "0":
            return ""
    addresses = parse_annexure_addresses(annexure)
    return "\n\n".join(addresses) if addresses else ""


# ---------------------------------------------------------------------------
# Post-process + full record (P28/P29 — `gst_certi.py:5-54,399-462`)
# ---------------------------------------------------------------------------

GST_FIELD_ORDER = (
    "name", "constitution_of_business", "principal_address",
    "particulars_of_approving_authority", "gst_number",
    "total_no_of_additional_places", "additional_place_of_business",
)


def post_process_fields(fields: dict) -> dict:
    """P28: cleanup/normalize/structure pass (`gst_certi.py:5-54`)."""
    out = dict(fields)
    if out.get("name"):
        out["name"] = clean_field_value(out["name"])
    if out.get("constitution_of_business"):
        out["constitution_of_business"] = normalize_constitution(out["constitution_of_business"])
    if out.get("principal_address"):
        if isinstance(out["principal_address"], str):
            out["principal_address"] = structure_principal_address(out["principal_address"]) or {}
    if out.get("particulars_of_approving_authority"):
        out["particulars_of_approving_authority"] = clean_field_value(
            out["particulars_of_approving_authority"]
        )
    if out.get("gst_number"):
        out["gst_number"] = validate_gstin(out["gst_number"])
    total = out.get("total_no_of_additional_places") or ""
    if isinstance(total, str) and total.isdigit():
        out["total_no_of_additional_places"] = str(int(total))  # strip leading zeros
    else:
        out["total_no_of_additional_places"] = ""
    if out["total_no_of_additional_places"] == "0":
        out["additional_place_of_business"] = "NA"
    elif not out["total_no_of_additional_places"]:
        out["additional_place_of_business"] = ""
    return out


def extract_gst_fields(raw_text: str) -> dict:
    """Full GST extraction record (`gst_certi.py:399-462` semantics)."""
    if not raw_text or not isinstance(raw_text, str):
        return {
            "document_type": "GST_CERTIFICATE",
            "fields": {k: ({} if k == "principal_address" else "") for k in GST_FIELD_ORDER},
            "missing_fields": list(GST_FIELD_ORDER),
            "debug": {"raw_text_length": 0, "text_preview": ""},
        }

    text = normalize_text(raw_text)
    extracted = {
        "name": extract_name(text),
        "constitution_of_business": extract_constitution(text),
        "principal_address": extract_principal_address(text),
        "particulars_of_approving_authority": extract_approving_authority(text),
        "gst_number": extract_gst_number(text),
        "total_no_of_additional_places": extract_total_additional_places(text),
        "additional_place_of_business": "",
    }
    if extracted["total_no_of_additional_places"] == "0":
        extracted["additional_place_of_business"] = "NA"
    else:
        extracted["additional_place_of_business"] = extract_additional_places(text)

    fields = post_process_fields(extracted)

    # P29: dict-emptiness rule for principal_address (`gst_certi.py:444-452`).
    missing = []
    for key in GST_FIELD_ORDER:
        value = fields.get(key)
        if key == "principal_address":
            if not value or (isinstance(value, dict) and len(value) == 0):
                missing.append(key)
        elif not value:
            missing.append(key)

    return {
        "document_type": "GST_CERTIFICATE",
        "fields": fields,
        "missing_fields": missing,
        "debug": {
            "raw_text_length": len(raw_text),
            "text_preview": raw_text[:300] if raw_text else "",
        },
    }
