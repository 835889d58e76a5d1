"""Independent expectations the benchmark checks every job against.

* ``oracle_sample`` runs ``oracle.doctype.extract_document`` in-process on
  a fixed url sample (no Spark) — the byte-identity reference, and the
  oracle layer's timings.
* ``twin_expectations`` runs the package's DuckDB SQL twin of the
  relational stages (adapters, entity join, rules, report, duplicate-id,
  checksum) over the extractions a job committed.
* ``near_dup_reference`` is a pure-Python replay of the dedup ladder
  (md5 exact dedup, 3-shingle MinHash LSH with 4 bands of 2 rows, Jaccard
  >= 0.6 verify, min-id connected components) on the sampled texts.
"""

from __future__ import annotations

import hashlib
import re
import time

import duckdb

#: the package's near-dup defaults (``functions.dedup.dedup_cluster_keep``
#: and ``minhash_bands``); a change there changes the expected clusters.
SHINGLE_N, BANDS, ROWS_PER_BAND, JACCARD = 3, 4, 2, 0.6


def oracle_sample(rows, detailed: bool = False) -> dict:
    """rows: iterable of (url, payload bytes). Returns the expected
    records (url -> (doc_status, extracted_text, fields_json)) plus
    per-leg timings, and with ``detailed`` the segment/fields split."""
    from ocr_automation_system_spark.oracle.doctype import (
        detect_document_type, extract_document, extract_fields_for_type,
    )
    from ocr_automation_system_spark.oracle.html_extract import segment_blocks

    expected, legs, status = {}, {}, {}
    total_s = total_bytes = 0.0
    html_payloads, ok_texts = [], []
    for url, payload in rows:
        t0 = time.perf_counter()
        rec = extract_document(url, payload)
        dt = time.perf_counter() - t0
        total_s += dt
        total_bytes += len(payload or b"")
        leg = rec["source_leg"]
        n, s = legs.get(leg, (0, 0.0))
        legs[leg] = (n + 1, s + dt)
        status[rec["doc_status"]] = status.get(rec["doc_status"], 0) + 1
        expected[url] = (rec["doc_status"], rec["extracted_text"],
                         rec["fields_json"])
        if leg == "html":
            html_payloads.append(payload)
        if rec["doc_status"] == "ok":
            ok_texts.append(rec["extracted_text"])
    n_docs = len(expected)
    out = {
        "expected": expected,
        "docs": n_docs,
        "us_per_doc": 1e6 * total_s / n_docs,
        "us_per_kb": 1e6 * total_s / (total_bytes / 1024.0),
        "legs": {k: {"docs": n, "us_per_doc": 1e6 * s / n}
                 for k, (n, s) in legs.items()},
        "status": status,
    }
    if detailed:
        t0 = time.perf_counter()
        for p in html_payloads:
            segment_blocks(bytes(p).decode("utf-8", errors="replace"))
        seg_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for t in ok_texts:
            extract_fields_for_type(detect_document_type(t), t)
        fields_s = time.perf_counter() - t0
        out["segment_us_per_doc"] = 1e6 * seg_s / max(1, len(html_payloads))
        out["fields_us_per_doc"] = 1e6 * fields_s / max(1, len(ok_texts))
    return out


def _glob(path: str) -> str:
    return path.rstrip("/") + "/**/*.parquet"


def read_identity_rows(extractions_dir: str, urls) -> dict:
    """url -> (doc_status, extracted_text, fields_json) as committed."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TEMP TABLE s(url VARCHAR)")
        con.executemany("INSERT INTO s VALUES (?)", [(u,) for u in urls])
        rows = con.execute(
            "SELECT e.url, doc_status, extracted_text, fields_json "
            f"FROM read_parquet('{_glob(extractions_dir)}', "
            "hive_partitioning = false) e JOIN s USING (url)").fetchall()
    finally:
        con.close()
    return {u: (st, tx, fj) for u, st, tx, fj in rows}


def usable_texts(extractions_dir: str, n: int) -> dict:
    """url -> extracted_text of the first ``n`` usable docs by md5(url)."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT url, extracted_text FROM read_parquet('{_glob(extractions_dir)}', "
            "hive_partitioning = false) WHERE doc_status = 'ok' "
            "ORDER BY md5(url) LIMIT ?", [n]).fetchall()
    finally:
        con.close()
    return dict(rows)


def _status_counts(con, relation: str) -> dict:
    return dict(con.execute(
        f"SELECT status, count(*) FROM {relation} GROUP BY 1").fetchall())


def twin_expectations(extractions_dir: str) -> dict:
    """Expected sink contents from the DuckDB twin over the committed
    extractions: rule rows (as a sorted list), per-status counts and the
    row counts of the report / duplicate-id / checksum sinks."""
    from ocr_automation_system_spark import pipeline_sql as Q

    src = f"read_parquet('{_glob(extractions_dir)}', hive_partitioning = false)"

    def render(sql: str) -> str:
        return sql.replace(Q.TWIN, src)

    con = duckdb.connect()
    try:
        val = f"({render(Q.SQL_PIPELINE_VALIDATION)})"
        out = {
            "rules": sorted(con.execute(
                f"SELECT entity_key, rule_id, status, message FROM {val}"
            ).fetchall()),
            "status": _status_counts(con, val),
            "report_rows": con.execute(
                f"SELECT count(DISTINCT entity_key) FROM {val}").fetchone()[0],
            "duplicate_rows": con.execute(
                f"SELECT count(*) FROM ({render(Q.SQL_PIPELINE_DUPLICATE_IDS)})"
            ).fetchone()[0],
            "checksum_rows": con.execute(
                f"SELECT count(*) FROM ({render(Q.SQL_PIPELINE_CHECKSUM_CHECKS)})"
            ).fetchone()[0],
            "rows": con.execute(f"SELECT count(*) FROM {src}").fetchone()[0],
        }
    finally:
        con.close()
    return out


def sink_contents(out_dir: str) -> dict:
    """What a crawl job's sinks hold, read back with DuckDB (no Spark)."""
    con = duckdb.connect()
    try:
        def rel(name):
            return f"read_parquet('{_glob(out_dir + '/' + name)}')"

        val = rel("validation_results")
        return {
            "rules": sorted(con.execute(
                f"SELECT entity_key, rule_id, status, message FROM {val}"
            ).fetchall()),
            "status": _status_counts(con, val),
            "report_rows": con.execute(
                f"SELECT count(*) FROM {rel('entity_reports')}").fetchone()[0],
            "duplicate_rows": con.execute(
                f"SELECT count(*) FROM {rel('duplicate_ids')}").fetchone()[0],
            "checksum_rows": con.execute(
                f"SELECT count(*) FROM {rel('checksum_checks')}").fetchone()[0],
        }
    finally:
        con.close()


def read_clusters(path: str) -> dict:
    """doc_id -> (cluster_id, keep) of a written near-dup table."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id, cluster_id, keep FROM read_parquet('{_glob(path)}')"
        ).fetchall()
    finally:
        con.close()
    return {d: (c, bool(k)) for d, c, k in rows}


# --- near-dup replay --------------------------------------------------------

_CTRL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
_SPACES = re.compile(r"[ \t]+")
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java regex \s


def clean_text(t: str) -> str:
    return _SPACES.sub(" ", _CTRL.sub("", t)).strip(" ")


def shingles(t: str, n: int = SHINGLE_N) -> list:
    low = clean_text(t).lower().strip(" ")
    toks = [] if low == "" else _JAVA_WS.split(low)
    seen, out = set(), []
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i:i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def _band_sigs(sh: list) -> list:
    from ocr_automation_system_spark.functions.text import (
        MINHASH_A, MINHASH_C, MINHASH_P,
    )

    base = [int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_P
            for s in sh]
    mins = [min((a * h + c) % MINHASH_P for h in base)
            for a, c in zip(MINHASH_A[:BANDS * ROWS_PER_BAND],
                            MINHASH_C[:BANDS * ROWS_PER_BAND])]
    return ["|".join(str(m) for m in mins[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND])
            for b in range(BANDS)]


def near_dup_reference(docs: dict) -> dict:
    """docs: doc_id -> text. Returns exact-kept ids, LSH candidate and
    verified pair counts, and doc_id -> (cluster_id, keep) for the
    exact-dedup survivors."""
    by_hash = {}
    for d, t in docs.items():
        h = hashlib.md5(clean_text(t).encode("utf-8")).hexdigest()
        if h not in by_hash or d < by_hash[h]:
            by_hash[h] = d
    kept = sorted(by_hash.values())

    sh = {d: shingles(docs[d]) for d in kept}
    buckets = {}
    for d in kept:
        if not sh[d]:
            continue
        for b, sig in enumerate(_band_sigs(sh[d])):
            buckets.setdefault((b, sig), []).append(d)
    cands = set()
    for ids in buckets.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if a < b:
                    cands.add((a, b))
    sets = {d: set(s) for d, s in sh.items()}
    verified = [(a, b) for a, b in cands
                if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= JACCARD]

    parent = {d: d for d in kept}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in verified:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {d: find(d) for d in kept}
    return {
        "exact_kept": len(kept),
        "lsh_candidates": len(cands),
        "verified_pairs": len(verified),
        "clusters": {d: (c, d == c) for d, c in clusters.items()},
        "near_kept": sum(1 for d, c in clusters.items() if d == c),
    }
