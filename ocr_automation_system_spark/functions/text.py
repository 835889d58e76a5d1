"""Text-analysis operators for corpus curation (column-expression library).

Every function returns a ``pyspark.sql.Column`` built purely from built-in
JVM functions (whole-stage codegen, no Python), so the same semantics can be
stated in ANSI SQL for the DuckDB oracle (`__spark_entry__.oracle_sql`).

Reference lineage: the usability gate mirrors ``is_text_usable``
(`/root/reference/project/core/extractor.py:34-48`); the cleanup chain
mirrors ``_normalize_text`` (`core/extractors/gst_certi.py:705-711`) and
``_clean_field_value`` (`gst_certi.py:1309-1315`). The language-ID /
quality / token-count / fingerprint operators are the corpus-curation
extensions a 100 TB training-data pipeline needs (stopword-profile
language scoring, Gopher-style quality ratios, BPE-ish token counting,
content-defined fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.sqltext import sql_str

# ---------------------------------------------------------------------------
# Usability gate (F1) — `core/extractor.py:34-48`
# ---------------------------------------------------------------------------

MIN_TEXT_LENGTH = 50
MIN_ALPHA_RATIO = 0.4


def alpha_ratio(text: Column) -> Column:
    """letters / total chars, 0.0 for empty (``extractor.py:43-46``).

    ASCII letter class on purpose: the oracle contract needs identical
    semantics in Java regex (Spark) and RE2 (DuckDB); both agree on
    ``[A-Za-z]`` but disagree on ``\\p{L}`` corner cases.
    """
    letters = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    return F.when(F.length(text) > 0, letters / F.length(text)).otherwise(F.lit(0.0))


def is_text_usable(text: Column,
                   min_length: int = MIN_TEXT_LENGTH,
                   min_alpha: float = MIN_ALPHA_RATIO) -> Column:
    """F1: ``len(strip(text)) >= 50 AND alpha_ratio >= 0.4``."""
    stripped = F.trim(text)
    return (F.length(stripped) >= min_length) & (alpha_ratio(stripped) >= min_alpha)


# ---------------------------------------------------------------------------
# Cleanup chain (P33/P34)
# ---------------------------------------------------------------------------

#: C0 control chars except \t \n \r.
CONTROL_CHARS_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
#: Runs of spaces/tabs.
HSPACE_RE = "[ \\t]+"
#: The whitespace-token separator.
WS_RE = "\\s+"


def strip_control_chars(text: Column) -> Column:
    """P34 first step: remove C0 control chars except \\t \\n \\r."""
    return F.regexp_replace(text, CONTROL_CHARS_RE, "")


def collapse_whitespace(text: Column) -> Column:
    """Collapse runs of spaces/tabs, trim."""
    return F.trim(F.regexp_replace(text, HSPACE_RE, " "))


def clean_text(text: Column) -> Column:
    """P34-shaped canonicalization used before hashing/fingerprinting."""
    return collapse_whitespace(strip_control_chars(text))


# ---------------------------------------------------------------------------
# Tokenization + counting
# ---------------------------------------------------------------------------

#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
#: Same class syntax in Java regex and RE2.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens of the lowercased text ('' rows -> empty array)."""
    t = F.trim(F.lower(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, WS_RE)
    )


def ws_token_count(text: Column) -> Column:
    return F.size(ws_tokens(text)).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens — the cheap proxy for LLM token cost."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0))).cast("long")


# ---------------------------------------------------------------------------
# Quality scoring (Gopher-style ratio features)
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "that", "for")


def stopword_ratio(text: Column) -> Column:
    toks = ws_tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    punct = F.length(F.regexp_replace(text, "[^.,;:!?]", ""))
    return F.when(F.length(text) > 0, punct / F.length(text)).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = ws_tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("long"),
                        lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: each component contributes 0.25.

    * long enough (>= 200 chars)
    * alpha ratio >= 0.6
    * mean word length in the natural-language band [3, 10]
    * stopword ratio >= 0.05 (word-salad filter)
    """
    c1 = F.when(F.length(text) >= 200, 0.25).otherwise(0.0)
    c2 = F.when(alpha_ratio(text) >= 0.6, 0.25).otherwise(0.0)
    mwl = mean_word_length(text)
    c3 = F.when((mwl >= 3.0) & (mwl <= 10.0), 0.25).otherwise(0.0)
    c4 = F.when(stopword_ratio(text) >= 0.05, 0.25).otherwise(0.0)
    return c1 + c2 + c3 + c4


# ---------------------------------------------------------------------------
# Encoding-damage detection (mojibake + replacement-char census)
# ---------------------------------------------------------------------------

#: The classic UTF-8-bytes-read-as-Latin-1 double-encoding sequences
#: (the high-frequency head of ftfy's fix table): 'é' mangles to 'Ã©',
#: '’' to 'â€™', and so on. Printable alternation only — identical
#: non-overlapping count semantics in Java regex and RE2, no escaping.
MOJIBAKE_RE = ("Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã±|Ã§|Ã¢|Ã«|Ã¯|Ã´|Ã»|"
               "â€™|â€œ|â€“|â€”|â€¦|Â°|Â«|Â»|Â·|Ã‚Â")

#: U+FFFD — what errors='replace' decoding leaves behind at every
#: malformed byte (the extraction leg's decode discipline).
REPLACEMENT_CHAR = "�"


def encoding_damage(df, id_col: str = "doc_id",
                    text_col: str = "text"):
    """Per-document encoding-damage signals: ``n_replacement`` (U+FFFD
    characters — the residue of errors='replace' decoding, i.e. bytes
    that were NOT valid UTF-8), ``n_mojibake`` (classic double-encoding
    sequences — bytes that WERE valid UTF-8 but had already been
    mangled upstream by a Latin-1 read), and ``damaged`` = either > 0.

    The two signals catch the two disjoint failure modes of a crawl's
    charset handling; a corpus-curation pipeline drops or re-decodes
    flagged documents before training. Narrow whole-stage-codegen
    projection: two regexp counts, zero shuffle, zero Python."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_repl = F.regexp_count(t, F.lit(REPLACEMENT_CHAR))
    n_moji = F.regexp_count(t, F.lit(MOJIBAKE_RE))
    return df.select(
        id_col,
        n_repl.cast("long").alias("n_replacement"),
        n_moji.cast("long").alias("n_mojibake"),
        ((n_repl + n_moji) > 0).alias("damaged"),
    )


# ---------------------------------------------------------------------------
# Mojibake REPAIR (the census above counts damage; this reverses it)
# ---------------------------------------------------------------------------

#: Characters the table-driven repair recovers. A char belongs here iff
#: its UTF-8 byte sequence decodes cleanly under STRICT cp1252 — i.e.
#: the classic "UTF-8 bytes read back as Windows-1252" crawl bug maps it
#: to a printable mangled form we can reverse exactly. U+201D '”' is the
#: canonical exclusion: its cp1252 byte 0x9D is undefined, so its
#: mangled form only exists under ftfy's sloppy-windows-1252 codec —
#: that class is the pandas kernel's job (``repair_mojibake_pandas``).
_MOJIBAKE_SEED = ("éèêëàáâäãåçíîïñóôöõúùûüøæß"
                  "ÀÂÃÄÅÆÇÈÉÊËÎÑÖÜØÙÚÛ"
                  "°«»·ºª¿¡§£‘’“–—…•€™")


def _mangled_form(c: str) -> str | None:
    """What ``c`` becomes when its UTF-8 bytes are read as cp1252."""
    try:
        return c.encode("utf-8").decode("cp1252")
    except UnicodeDecodeError:
        return None


def _closure(chars: str) -> str:
    """Close the alphabet under mangling (X179): every non-ASCII char
    appearing in any member's mangled form joins the set (if itself
    repairable). Closure is what makes the table chain unwind DOUBLE
    mojibake exactly: the outer layer of ``mangle(mangle(s))`` consists
    of the mangled forms of the chars of ``mangle(s)`` — chars like
    ``Ã``/``Â``/``ƒ``/``©`` that a seed-only table would leave behind,
    stranding the text one layer deep forever. The orbit stays inside
    latin-1 + the cp1252 0x80–0xBF block, so this terminates in 2
    rounds; ``”`` (byte 0x9D, undefined in cp1252) is the one orbit
    member with no decodable form and stays out — the documented
    sloppy-codec-kernel-only exclusion."""
    seen, frontier = set(chars), set(chars)
    while frontier:
        new = set()
        for c in frontier:
            m = _mangled_form(c)
            if not m:
                continue
            for ch in m:
                if ord(ch) > 127 and ch not in seen:
                    new.add(ch)
        seen |= new
        frontier = new
    return "".join(sorted(c for c in seen if _mangled_form(c)))


_MOJIBAKE_CHARS = _closure(_MOJIBAKE_SEED)


#: (mangled_form, original_char), longest mangled form first so the
#: chained-replace can never split a 3-byte form by rewriting a 2-byte
#: prefix (defense only: a key audit in tests shows no key is a
#: substring of another — UTF-8 lead bytes 0xC2/0xC3 can't appear as
#: continuation bytes, so 2-char keys never embed in 3-char keys).
MOJIBAKE_MAP: tuple = tuple(sorted(
    ((m, c) for c in _MOJIBAKE_CHARS if (m := _mangled_form(c))),
    key=lambda kv: (-len(kv[0]), kv[0])))


def repair_mojibake(text: Column) -> Column:
    """Table-driven mojibake repair: one chained literal ``replace`` per
    MOJIBAKE_MAP entry, entirely JVM-side (whole-stage codegen — no
    regex engine, no Python). Repairs each mangled sequence in place, so
    mixed documents (one damaged line among clean ones) repair partially
    — unlike a whole-string codec round-trip, which would refuse any
    document that also carries a legitimate non-ASCII char. NULL in,
    NULL out (``replace`` propagates nulls). The same chain renders to
    DuckDB ``replace()`` from the same table (``pipeline_sql``), so
    cross-engine parity is by construction."""
    out = text
    for mangled, orig in MOJIBAKE_MAP:
        out = F.replace(out, F.lit(mangled), F.lit(orig))
    return out


def repair_mojibake_py(s: str) -> str:
    """Pure-Python twin of ``repair_mojibake`` (oracle / fixture use)."""
    for mangled, orig in MOJIBAKE_MAP:
        s = s.replace(mangled, orig)
    return s


def repair_mojibake_deep(text: Column, depth: int = 2) -> Column:
    """X179 — the table chain composed ``depth`` times: because the
    alphabet is CLOSED under mangling (``_closure``), one application
    unwinds exactly one encoding layer on alias-free text (text whose
    clean form contains no mangled-form substring — the inherent
    ambiguity of all mojibake repair), so ``depth`` applications
    recover text damaged up to ``depth`` times. Still one codegen
    projection, zero Python, zero shuffle; once clean, further
    applications are the identity, so over-estimating depth is safe."""
    out = text
    for _ in range(depth):
        out = repair_mojibake(out)
    return out


def mangle_mojibake_expr(text: Column) -> Column:
    """Forward mangle as a JVM expression (query planting / fixtures):
    per-char parallel map through the mangled-form table via a
    split->transform->join — NOT a sequential replace chain, which
    would re-mangle the lead/continuation chars an earlier replacement
    just introduced (a closed table makes sequential forward mangling
    impossible by construction). Exactly ``corpus.mangle_mojibake``."""
    mapping = {c: m for m, c in MOJIBAKE_MAP}

    def _map_char(x):
        cond = None
        for c, m in sorted(mapping.items()):
            cond = (F.when(x == c, F.lit(m)) if cond is None
                    else cond.when(x == c, F.lit(m)))
        return F.coalesce(cond, x)

    return F.array_join(F.transform(F.split(text, ""), _map_char), "")


def _sloppy_cp1252_encode(s: str) -> bytes | None:
    """ftfy-style sloppy-windows-1252 ENCODE: cp1252 where defined, the
    raw byte value for the five undefined C1 positions (0x81 0x8D 0x8F
    0x90 0x9D — decoders pass them through as U+0081.. control chars,
    so the reverse map is the identity on those code points). Returns
    None when any char has no single-byte form — the line cannot be a
    pure cp1252 misread and must not be touched."""
    out = bytearray()
    for ch in s:
        p = ord(ch)
        try:
            out += ch.encode("cp1252")
        except UnicodeEncodeError:
            if p in (0x81, 0x8D, 0x8F, 0x90, 0x9D):
                out.append(p)
            else:
                return None
    return bytes(out)


def repair_mojibake_line(line: str) -> str:
    """Production repair kernel, per line: re-encode through sloppy
    cp1252 and strictly re-decode as UTF-8; keep the repair only when
    the round-trip is exact. Strict-decode failure is the safety proof:
    a line holding any LEGITIMATE non-ASCII char (real 'é', '©' from an
    entity reference) re-encodes to a byte that is not valid UTF-8, so
    the line returns unchanged — false repairs are impossible for
    single-byte-representable text. Line granularity (not whole-doc)
    because a crawl's charset bug damages individual upstream fragments;
    a clean line elsewhere in the doc must not veto the repair.

    Beyond ``repair_mojibake``'s 40-entry table this also recovers forms
    involving the 5 cp1252-undefined bytes (e.g. '”', whose mangled form
    carries 0x9D) — the census/table tier's documented exclusion."""
    if line.isascii():
        return line
    b = _sloppy_cp1252_encode(line)
    if b is None:
        return line
    try:
        fixed = b.decode("utf-8")
    except UnicodeDecodeError:
        return line
    return fixed


def repair_mojibake_text_py(s: str) -> str:
    """Whole-document production repair: per-line kernel, '\\n' joined."""
    return "\n".join(repair_mojibake_line(ln) for ln in s.split("\n"))


def repair_mojibake_line_fix(line: str, max_depth: int = 3) -> str:
    """X179 — codec kernel iterated to a fixpoint: TWICE-mangled crawl
    text (damaged upstream, stored, re-served through another
    mislabelled-charset hop — common when an already-broken page is
    scraped and republished) unwinds one layer per pass. Each pass
    keeps the single-pass kernel's safety proof (strict UTF-8 re-decode
    must round-trip exactly), so iterating cannot introduce repairs the
    single pass would refuse; ``max_depth`` bounds pathological inputs
    that keep round-tripping (depth 3 covers every damage shape seen in
    published crawl audits)."""
    for _ in range(max_depth):
        fixed = repair_mojibake_line(line)
        if fixed == line:
            return line
        line = fixed
    return line


def repair_mojibake_text_fix_py(s: str, max_depth: int = 3) -> str:
    """Whole-document fixpoint repair: per-line kernel to fixpoint."""
    return "\n".join(repair_mojibake_line_fix(ln, max_depth)
                     for ln in s.split("\n"))


# ---------------------------------------------------------------------------
# Language ID (stopword-profile heuristic)
# ---------------------------------------------------------------------------

#: Tiny function-word profiles. At real scale this is a trigram model inside
#: a pandas UDF; the heuristic keeps the operator fully JVM-side + SQL-oracle
#: checkable. Order matters: ties resolve to the earlier profile.
LANG_PROFILES = (
    ("en", ("the", "and", "of", "to", "is", "a", "in", "that")),
    ("es", ("el", "la", "de", "que", "y", "los", "un", "una")),
    ("de", ("der", "die", "und", "das", "nicht", "ein", "ist", "zu")),
    ("fr", ("le", "la", "et", "les", "des", "une", "est", "que")),
)


def lang_scores(text: Column) -> dict[str, Column]:
    toks = ws_tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")
        for lang, words in LANG_PROFILES
    }


def lang_id(text: Column) -> Column:
    """argmax over profile scores; 'und' when every score is 0."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang, _ in reversed(LANG_PROFILES):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Unicode script census
# ---------------------------------------------------------------------------

#: Script name -> regex char class, in FIXED priority order: dominant-script
#: ties resolve to the earlier entry. Ranges use \x{...} escapes — the one
#: codepoint syntax Java regex (Spark) and RE2 (DuckDB) both accept. CJK
#: folds the unified-ideograph block with the kana blocks (the coarse
#: mixed-script routing signal, not a language classifier).
SCRIPT_RANGES = (
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("devanagari", r"[\x{0900}-\x{097F}]"),
    ("cjk", r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]"),
    ("hangul", r"[\x{AC00}-\x{D7AF}]"),
)


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script letter counts (exact longs, one regexp_count each)."""
    t = F.coalesce(text, F.lit(""))
    return {name: F.regexp_count(t, F.lit(cls)).cast("long")
            for name, cls in SCRIPT_RANGES}


def dominant_script(counts: dict[str, Column]) -> Column:
    """First script in SCRIPT_RANGES order holding the max count;
    'none' when every count is 0 — a deterministic total rule both
    engines express as the same CASE chain."""
    best = F.greatest(*counts.values())
    expr = F.lit("none")
    for name, _ in reversed(SCRIPT_RANGES):
        expr = F.when((counts[name] > 0) & (counts[name] == best),
                      F.lit(name)).otherwise(expr)
    return expr


#: Script pairs whose within-word mixing signals confusable spoofing:
#: Cyrillic and Greek are the alphabets with convincing Latin
#: homoglyphs (а/a, е/e, о/o, р/p, ο/o, ν/v …) — a single WORD drawing
#: letters from both sides is the IDN/phishing/SEO-spam signature
#: (UTS #39 mixed-script confusables, restricted to the pairs that
#: matter for web text). CJK-beside-Latin in one word is normal
#: (model names, units), so it is deliberately NOT a pair here.
MIXED_SCRIPT_PAIRS = (("latin", "cyrillic"), ("latin", "greek"))


def mixed_script_words(df, id_col: str = "doc_id",
                       text_col: str = "text"):
    """X155 — per-doc confusable-spoofing census: words whose letters
    come from two scripts at once (per MIXED_SCRIPT_PAIRS), with an
    example word (lexicographic min — deterministic) and the fraction.
    A document that is merely bilingual (whole words per script) scores
    ZERO: the signal is within-word mixing, not script co-presence.

    Row-local: one token split + a filter lambda of 2 regexp pairs per
    word — zero shuffle, zero Python, fuses with the scan."""
    classes = dict(SCRIPT_RANGES)

    def is_mixed(w: Column) -> Column:
        out = F.lit(False)
        for a, b in MIXED_SCRIPT_PAIRS:
            out = out | (w.rlike(classes[a]) & w.rlike(classes[b]))
        return out

    d = df.select(
        id_col, ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
        .alias("_toks"))
    mixed = F.filter(F.col("_toks"), is_mixed)
    n = F.size("_toks")
    k = F.size(mixed)
    return d.select(
        id_col,
        n.cast("int").alias("n_words"),
        k.cast("int").alias("n_mixed_words"),
        F.when(n > 0, F.round(k.cast("double") / n, 6))
        .otherwise(F.lit(0.0)).alias("mixed_frac"),
        F.when(k > 0, F.array_min(mixed)).otherwise(F.lit(None))
        .alias("example_word"),
    )


#: X185 — 1:1 confusable -> Latin skeleton map (UTS #39 restricted to
#: the single-codepoint Cyrillic/Greek homoglyphs that matter for web
#: text; the full confusables table has multi-char targets and drops in
#: as a parquet dimension + chained replace when needed). Lower+upper
#: Cyrillic lookalikes, then the Greek ones.
CONFUSABLE_MAP = {
    "а": "a", "е": "e", "о": "o", "р": "p", "с": "c", "у": "y",
    "х": "x", "і": "i", "ѕ": "s", "ј": "j", "ԛ": "q", "ԝ": "w",
    "А": "A", "В": "B", "Е": "E", "К": "K", "М": "M", "Н": "H",
    "О": "O", "Р": "P", "С": "C", "Т": "T", "Х": "X", "Ѕ": "S",
    "І": "I", "Ј": "J",
    "ο": "o", "ν": "v", "Α": "A", "Β": "B", "Ε": "E", "Ζ": "Z",
    "Η": "H", "Ι": "I", "Κ": "K", "Μ": "M", "Ν": "N", "Ο": "O",
    "Ρ": "P", "Τ": "T", "Υ": "Y", "Χ": "X",
}
_CONF_FROM = "".join(CONFUSABLE_MAP)
_CONF_TO = "".join(CONFUSABLE_MAP.values())

#: UTS #39 MULTI-char targets (round-5): single codepoints whose
#: skeleton is a SEQUENCE of Latin letters — ``translate`` cannot
#: express these (it is strictly 1:1), so they fold through a chained
#: ``replace`` applied BEFORE the 1:1 pass. Curated to the published
#: multi-char pairs that matter for web text: Latin ligature
#: presentation forms, Latin/IPA digraph letters, and the
#: letter-sequence signs spam swaps in (№ -> No, ₨ -> Rs, ‼ -> !!).
#: Every source is one codepoint and every target is ASCII, so the
#: chain is CONFLUENT — no source can appear inside another pair's
#: output and the application order cannot change the result. The
#: full confusables.txt (the same (source, target) shape, ~6k rows)
#: drops in as a parquet dimension through
#: :func:`confusable_skeleton`'s ``multi`` parameter, exactly the
#: PSL-dimension pattern.
CONFUSABLE_MULTI = (
    ("ﬀ", "ff"), ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬁ", "fi"), ("ﬂ", "fl"),
    ("ĳ", "ij"), ("Ĳ", "IJ"),
    ("ǉ", "lj"), ("ǈ", "Lj"), ("Ǉ", "LJ"),
    ("ǌ", "nj"), ("ǋ", "Nj"), ("Ǌ", "NJ"),
    ("ǳ", "dz"), ("ǲ", "Dz"), ("Ǳ", "DZ"),
    ("ʣ", "dz"), ("ʦ", "ts"), ("ʪ", "ls"), ("ʫ", "lz"),
    ("œ", "oe"), ("Œ", "OE"),
    ("№", "No"), ("₨", "Rs"),
    ("‼", "!!"), ("⁇", "??"), ("⁈", "?!"), ("⁉", "!?"),
)


def confusable_skeleton(text: Column, multi=CONFUSABLE_MULTI) -> Column:
    """Collapse confusables onto their Latin skeleton: first the
    multi-char targets (ligatures/digraphs/signs — a chained
    ``replace``, one codegen pass per pair, zero Python; UTS #39
    skeletons are sequences so 1:1 ``translate`` can't carry them),
    then the single-codepoint Cyrillic/Greek homoglyphs (one
    ``translate`` pass): the dedup KEY that catches spam evading exact
    dedup by swapping а→a or fi→ﬁ. Key use only — candidates grouped
    by skeleton still byte-compare in the verify stage, so a genuine
    Russian document colliding with a Latin one costs a verify, never
    a false merge. Pass ``multi=()`` for the round-4 single-char-only
    behavior, or a parquet-loaded pair list for the full published
    table."""
    out = text
    for src, dst in multi:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return F.translate(out, _CONF_FROM, _CONF_TO)


def sql_confusable_skeleton(expr: str, multi=CONFUSABLE_MULTI) -> str:
    """Render the EXACT skeleton fold as DuckDB SQL (single source for
    the twin: same pair table, same chain order, same final
    translate)."""
    out = expr
    for src, dst in multi:
        out = f"replace({out}, '{src}', '{dst}')"
    return f"translate({out}, '{_CONF_FROM}', '{_CONF_TO}')"


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------

def content_hash(text: Column) -> Column:
    """Exact-dedup key: md5 of the cleaned text (hex string — identical in
    Spark and DuckDB, so it doubles as the oracle join key)."""
    return F.md5(clean_text(text))


def lazy_seq(cond: Column, start: Column, stop: Column,
             step: Column | None = None) -> Column:
    """``sequence(start, stop[, step])`` when ``cond`` holds, else the
    empty int array.

    ALWAYS guard a window-position sequence this way — with the
    ``CASE WHEN`` on the sequence, not around the ``transform`` that
    consumes it: the guard around the ``transform`` measured ~20x slower
    on the 235k-row shingle stream at sf0.1. Neither shape is in
    whole-stage codegen (every higher-order function is CodegenFallback,
    docs/PLANS.md). ``transform([], f)`` is the same empty result. The
    false/null branch never evaluates the sequence, so a negative
    ``stop`` under a failed guard is safe."""
    seq = (F.sequence(start, stop) if step is None
           else F.sequence(start, stop, step))
    return F.when(cond, seq).otherwise(F.array().cast("array<int>"))


def bind_array(arr: Column, fn) -> Column:
    """Let-binding for array expressions: evaluate ``arr`` ONCE per row
    and hand it to ``fn`` as a bound lambda variable.

    A higher-order-function lambda that closes over a non-trivial array
    EXPRESSION re-evaluates that expression per element — the shingle
    stream at sf0.1 ran the whole tokenizer regex stack once per gram
    (measured 14x: 9.9s -> 0.7s). Wrapping the array in a one-element
    outer ``transform`` binds it to a NamedLambdaVariable, evaluated
    once and referenced thereafter. Use this whenever a window/gram
    lambda slices a derived token array."""
    return F.element_at(F.transform(F.array(arr), fn), 1)


def positional_grams(toks: Column, n: int, gram) -> Column:
    """All n-token windows of a bound token array, mapped through
    ``gram(slice)`` — the shared shape of shingling, n-gram repetition
    and duplicated-span streams (lazy_seq + bind_array)."""
    def _inner(tk: Column) -> Column:
        k = F.size(tk) - (n - 1)
        return F.transform(lazy_seq(k > 0, F.lit(1), k),
                           lambda i: gram(F.slice(tk, i, n)))
    return bind_array(toks, _inner)


def shingles_sql(text: str, n: int = 3) -> str:
    """Distinct word n-gram shingles (the near-dup feature set) of the
    SQL expression ``text``, as Spark SQL text: ``clean_text`` ->
    ``ws_tokens`` -> ``positional_grams`` joined by spaces, written out
    with the same two rules (the guard on the sequence inside
    the gram ``transform``; the token array let-bound by a one-element
    outer ``transform``). DuckDB twin: ``queries._sql_shingles``."""
    clean = (f"trim(regexp_replace(regexp_replace({text}, "
             f"{sql_str(CONTROL_CHARS_RE)}, ''), {sql_str(HSPACE_RE)}, ' '))")
    low = f"trim(lower({clean}))"
    toks = (f"CASE WHEN {low} = '' THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE split({low}, {sql_str(WS_RE)}) END")
    k = f"size(tk) - {n - 1}"
    grams = (f"transform(CASE WHEN {k} > 0 THEN sequence(1, {k}) "
             f"ELSE CAST(array() AS ARRAY<INT>) END, "
             f"i -> concat_ws(' ', slice(tk, i, {n})))")
    return f"array_distinct(element_at(transform(array({toks}), tk -> {grams}), 1))"


def shingles(text_col: str, n: int = 3) -> Column:
    """``shingles_sql`` of column ``text_col`` as a Column."""
    return F.expr(shingles_sql(text_col, n))


# MinHash family: h_i(s) = (A[i] * (base(s) mod P) + C[i]) mod P where
# base(s) = int(md5(s)[:15], 16). One md5 per shingle; each additional hash
# is two multiplies — the standard universal-hash permutation trick.
# A[i] * (h mod P) < 2^31 * 2^31 = 2^62: no int64 overflow.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_A = (1103515245, 1299721, 104729, 7919, 65537, 22695477, 48271, 69621)
MINHASH_C = (12345, 999983, 101, 271828, 314159, 662607, 57721, 161803)


def shingle_hash_sql(s: str) -> str:
    """Base hash of the shingle ``s`` (1 md5): 15 hex digits < 2^60 fits
    a signed long; DuckDB twin: ``CAST('0x' || substr(md5(s),1,15) AS
    BIGINT)``."""
    return f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"


def shingle_hashes(text_col: str, n: int = 3) -> Column:
    """array<long> base hashes of column ``text_col``'s shingles."""
    return F.expr(f"transform({shingles_sql(text_col, n)}, "
                  f"s -> {shingle_hash_sql('s')})")


def winnow_fingerprint(text_col: str, n: int = 3) -> Column:
    """Document fingerprint: lexicographic-min md5 over the shingle set
    (a 1-band minhash — the winnowing 'rolling hash' analogue)."""
    return F.expr(f"array_min(transform({shingles_sql(text_col, n)}, "
                  f"s -> md5(s)))")


# SimHash (64-bit, stored as two 32-bit halves)
#
# The 64-bit signature is the (sim_hi, sim_lo) pair, deliberately stored
# as two non-negative 32-bit values instead of one packed int64: bit 63
# of a packed long flips the sign, and signed shift/overflow semantics
# differ between engines (Spark ANSI longs vs DuckDB BIGINT) — two
# halves keep every value positive and every shift well-defined in both,
# with hamming = bit_count(hi^hi') + bit_count(lo^lo').
#
# Token hash = first 16 hex digits of md5(token): h1 = nibbles 1-8
# (sim_hi's 32 bits), h2 = nibbles 9-16 (sim_lo's). Bit j of a half is
# (h >> (31-j)) & 1; the SimHash vote for bit j is sum over tokens of
# (2*bit - 1), and the signature bit is set iff the vote is positive —
# equivalently iff 2*sum(bit) > n_tokens, which keeps the whole
# computation in exact integer arithmetic on BOTH engines (no FP order
# sensitivity in the oracle contract).
#
# The table-scale implementation lives in ``dedup.simhash_table`` as
# explode -> md5 -> 64 bit-sums in ONE hash aggregate: whole-stage
# codegen end to end, map-side partial aggregation collapses each doc's
# tokens before the (tiny, 65-long-wide) shuffle on doc_id. A previous
# version folded a 64-counter struct per token with F.aggregate — higher-
# order lambdas are CodegenFallback (interpreted, struct realloc per
# element) and benched ~10x slower at 5k docs, worsening with fan-in.


def token_digest_halves(tok: Column) -> tuple[Column, Column]:
    """md5(token) -> (h1, h2): two unsigned 32-bit halves as longs.
    DuckDB twin: ``CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)``
    and ``substr(md5(t), 9, 8)``."""
    d = F.md5(tok)
    h1 = F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 9, 8), 16, 10).cast("long")
    return h1, h2


def simhash_bit_sum(half: Column, j: int) -> Column:
    """Aggregation expression: count of tokens whose bit j (MSB-first) of
    the given 32-bit digest half is set."""
    return F.sum(F.shiftrightunsigned(half, 31 - j).bitwiseAND(F.lit(1)))


def simhash_pack(bit_sums: list[Column], n_tokens: Column) -> Column:
    """(32 per-bit set-counts, token count) -> 32-bit half: bit j set iff
    2*sum_j > n (== vote sum(2b-1) > 0). Exact integer comparison."""
    out = F.lit(0).cast("long")
    for j, b in enumerate(bit_sums):
        out = out + F.when(F.lit(2) * b > n_tokens,
                           F.lit(2 ** (31 - j)).cast("long")) \
                     .otherwise(F.lit(0).cast("long"))
    return out


#: MSB-first bit masks for one 32-bit digest half.
_SIMHASH_MASKS = [2 ** (31 - j) for j in range(32)]


def simhash_row(text: Column) -> tuple[Column, Column]:
    """ROW-LOCAL 64-bit SimHash (sim_hi, sim_lo) — the same signature
    ``dedup.simhash_table`` derives with explode -> aggregate, computed
    instead as ONE fold over the distinct-token array. No shuffle, no
    aggregation state: the shape a STREAMING stage is allowed to use
    (stream-static joins and projections only), and what a narrow batch
    projection wants when the signature is one column among many.

    Cost note: the fold accumulates all 64 per-bit counters in a single
    pass (array<long>[64] accumulator, per-token bits via mask
    bitwiseAND), so the token array is walked once — not once per bit.
    Token-less/NULL text packs the canonical all-zero signature, same
    as the aggregate path's zero-sig union. Parity with simhash_table
    is pinned by test."""
    toks = F.array_distinct(ws_tokens(clean_text(text)))
    masks = F.lit(_SIMHASH_MASKS).cast("array<long>")

    def _token_bits(t: Column) -> Column:
        h1, h2 = token_digest_halves(t)
        one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
        return F.concat(
            F.transform(masks, lambda m:
                        F.when(h1.bitwiseAND(m) != 0, one).otherwise(zero)),
            F.transform(masks, lambda m:
                        F.when(h2.bitwiseAND(m) != 0, one).otherwise(zero)))

    def _sig(tk: Column) -> Column:
        # tk and s are bound lambda variables — every reference below
        # is free; the fold and the tokenizer each evaluate once
        sums = F.aggregate(
            tk, F.array_repeat(F.lit(0).cast("long"), 64),
            lambda acc, t: F.zip_with(acc, _token_bits(t),
                                      lambda a, b: a + b))
        n = F.size(tk).cast("long")

        def _half(s: Column, off: int) -> Column:
            return simhash_pack(
                [F.element_at(s, off + j + 1) for j in range(32)], n)

        return bind_array(sums, lambda s: F.struct(
            _half(s, 0).alias("hi"), _half(s, 32).alias("lo")))

    sig = bind_array(toks, _sig)
    zero = F.lit(0).cast("long")
    return (F.coalesce(sig["hi"], zero), F.coalesce(sig["lo"], zero))
